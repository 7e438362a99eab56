"""Query registry backing ``__spark_entry__``: each entry pairs an
idiomatic-Spark DataFrame builder with an exact DuckDB-SQL oracle.

Conventions that make the oracles *exact* (not approximate):
* hashes are md5 hex strings (identical in both engines);
* ratios are single double divisions of integers;
* double aggregations go through DECIMAL (exact) and are cast back to
  double at the end, so partial-aggregation order cannot perturb values;
* timestamps compare as epoch seconds (session timezone pinned to UTC);
* every computed column is aliased identically on both sides.

Queries whose value is the Python extraction kernel itself (flagship
pipeline, HTML strip, media features) still get SQL oracles because the
synthesized inputs have closed-form expected outputs. Those builders
return unsorted results: a global sort samples its child stage for the
range bounds and then runs it again, so an ``orderBy`` over a Python
kernel would run the kernel twice per row. The oracle compare is
order-insensitive, so the oracles keep their ORDER BY.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    BinaryType, BooleanType, IntegerType, LongType, StringType, StructField,
    StructType,
)
from pyspark.sql.window import Window

from .functions import dedup, sampling, similarity, text_stats

JACCARD_T = 0.05      # word-soup corpus: low threshold yields real pairs
MINHASH_T = 0.05


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# Relational coverage (lineitem/orders/customer/events)
# ---------------------------------------------------------------------------

def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: scan-side filter + partial-agg groupBy (1 shuffle)."""
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c, s: F.col(c).cast(f"decimal(18,{s})")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("count_order"),
            F.sum(dec("l_quantity", 2)).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice", 2)).cast("double").alias("sum_base_price"),
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount")))
                .cast("decimal(24,6)")
            ).cast("double").alias("sum_disc_price"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       count(*) AS count_order,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,6))) AS DOUBLE)
           AS sum_disc_price
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q3_top_orders(spark, sf_dir):
    """TPC-H Q3 shape: dim filter -> broadcast join -> agg -> top-k."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderpriority")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount")))
                .cast("decimal(24,6)")
            ).cast("double").alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


Q3_SQL = """
SELECT l_orderkey, o_orderpriority,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,6))) AS DOUBLE)
           AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY l_orderkey, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


def events_hourly(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.col("event_type"),
            F.unix_timestamp(F.date_trunc("hour", "ts")).alias("hour_epoch"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
            .alias("sum_value"),
        )
        .orderBy("event_type", "hour_epoch")
    )


EVENTS_HOURLY_SQL = """
SELECT event_type,
       CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events
GROUP BY event_type, hour_epoch
ORDER BY event_type, hour_epoch
"""


def events_sessions(spark, sf_dir):
    """Sessionization: 30-min-gap sessions per user (lag window)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gapped = ev.withColumn(
        "new_session",
        F.when(
            F.col("ts").cast("timestamp").cast("long")
            - F.lag(F.col("ts").cast("timestamp").cast("long")).over(w)
            > 1800,
            1,
        ).otherwise(0),
    )
    return (
        gapped.groupBy("user_id")
        .agg(
            (F.sum("new_session") + 1).alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
        .orderBy("user_id")
    )


EVENTS_SESSIONS_SQL = """
WITH gapped AS (
  SELECT user_id,
         CASE WHEN epoch(ts)::BIGINT
                   - lag(epoch(ts)::BIGINT)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
)
SELECT user_id,
       CAST(sum(new_session) + 1 AS BIGINT) AS n_sessions,
       count(*) AS n_events
FROM gapped GROUP BY user_id ORDER BY user_id
"""


def q5_region_volume(spark, sf_dir):
    """TPC-H Q5 shape: snowflake joins (broadcastable dims) + agg."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount")))
                  .cast("decimal(24,6)")).cast("double").alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy("r_name", "n_name")
    )


Q5_SQL = """
SELECT r_name, n_name,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,6))) AS DOUBLE)
           AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
ORDER BY r_name, n_name
"""


def events_rollup(spark, sf_dir):
    """Grouping sets: per-type counts + grand total via ROLLUP."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.rollup("event_type")
        .agg(F.count("*").alias("n_events"),
             F.count_distinct("user_id").alias("n_users"))
        .orderBy(F.col("event_type").asc_nulls_first())
    )


EVENTS_ROLLUP_SQL = """
SELECT event_type, count(*) AS n_events, count(DISTINCT user_id) AS n_users
FROM events GROUP BY ROLLUP (event_type)
ORDER BY event_type ASC NULLS FIRST
"""


def part_topk_per_brand(spark, sf_dir):
    """Window top-k: 3 priciest parts per brand (rank + tie-break)."""
    p = _t(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(
        F.col("p_retailprice").desc(), F.col("p_partkey").asc())
    return (
        p.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("p_brand", "rnk", "p_partkey", "p_retailprice")
        .orderBy("p_brand", "rnk")
    )


PART_TOPK_SQL = """
SELECT p_brand, rnk, p_partkey, p_retailprice
FROM (
  SELECT p_brand, p_partkey, p_retailprice,
         row_number() OVER (PARTITION BY p_brand
                            ORDER BY p_retailprice DESC, p_partkey ASC) AS rnk
  FROM part
)
WHERE rnk <= 3 ORDER BY p_brand, rnk
"""


# ---------------------------------------------------------------------------
# Text analysis (documents)
# ---------------------------------------------------------------------------

_STOPS_SQL = "[" + ", ".join(f"'{s}'" for s in text_stats.EN_STOPWORDS) + "]"


def ta_tokens(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        text_stats.token_count_col().alias("n_tokens"),
        text_stats.uniq_token_count_col().alias("n_uniq"),
        text_stats.bpe_token_count_col().alias("n_bpe"),
        F.length("text").alias("n_chars"),
    ).orderBy("doc_id")


TA_TOKENS_SQL = rf"""
SELECT doc_id,
       len(string_split(text, ' ')) AS n_tokens,
       len(list_distinct(string_split(text, ' '))) AS n_uniq,
       len(regexp_extract_all(text,
           '{text_stats._BPE_TOKEN_RE.replace("'", "''")}')) AS n_bpe,
       length(text) AS n_chars
FROM documents ORDER BY doc_id
"""


def ta_vocab(spark, sf_dir):
    """Corpus-LEVEL token frequency (vocab building / Zipf QA) — the only
    cross-document text statistic in the ta_* family: explode the
    space-split tokens once, map-side-combined count per token, global
    top-100 by the total order (count desc, token asc) so the cut line is
    deterministic in both engines. At 100 TB the topK is
    TakeOrderedAndProject over the combined partials — never a global
    sort of the vocabulary."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split("text", " ")).alias("tok"))
    counts = toks.groupBy("tok").agg(F.count("*").alias("n"))
    return counts.orderBy(F.desc("n"), "tok").limit(100)


TA_VOCAB_SQL = """
SELECT tok, count(*) AS n
FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
GROUP BY tok ORDER BY n DESC, tok LIMIT 100
"""

# CCNet-style band over the corpus rarity distribution: sf0.01 means
# cluster at ~30.0e6 (uniform word-soup) with a long rare-token tail —
# the band keeps the unsurprising middle (321/500), dropping head+tail.
RARITY_KEEP_MIN_MEAN = 29_900_000.0
RARITY_KEEP_MAX_MEAN = 30_200_000.0


def ta_rarity(spark, sf_dir):
    """Corpus-frequency rarity scoring (text_stats.rarity_score) — the
    CCNet perplexity-filter shape with the KenLM log-prob replaced by
    integer inverse unigram frequency so the score is engine-exact.
    keep mirrors CCNet's middle-of-the-distribution band."""
    d = _t(spark, sf_dir, "documents")
    s = text_stats.rarity_score(d)
    return (s.select(
        "doc_id", "n_tokens", "rarity_sum", "rarity_mean",
        ((F.col("rarity_mean") >= RARITY_KEEP_MIN_MEAN)
         & (F.col("rarity_mean") <= RARITY_KEEP_MAX_MEAN)).alias("keep"))
        .orderBy("doc_id"))


def ta_ccnet_buckets(spark, sf_dir):
    """CCNet head/middle/tail assignment (text_stats.ccnet_buckets)
    over the integer rarity score — the full Wenzek et al. 2020
    pipeline shape: score with the (log-free) corpus LM, cut the score
    distribution at 1/3 and 2/3 mass, assign by comparison. The cuts
    reduce to one broadcast row, so the corpus never shuffles for the
    assignment; ties share a bucket by construction. Because the
    upstream rarity chain feeds the scores verbatim, this query also
    re-exercises ta_rarity's arithmetic under the hash gate."""
    d = _t(spark, sf_dir, "documents")
    s = text_stats.rarity_score(d).select(
        "doc_id",
        F.call_function("div", F.lit(1_000_000) * F.col("rarity_sum"),
                        F.col("n_tokens")).alias("score_milli"))
    return text_stats.ccnet_buckets(s).orderBy("doc_id")


TA_CCNET_SQL = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
cnt AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
tot AS (SELECT sum(c)::BIGINT AS n_total FROM cnt),
scored AS (
  SELECT doc_id, (1000000 * n_total) // c AS r
  FROM tok JOIN cnt USING (tok) CROSS JOIN tot
),
agg AS (
  SELECT doc_id, count(*)::BIGINT AS n_tokens,
         sum(r)::BIGINT AS rarity_sum
  FROM scored GROUP BY doc_id
),
sc AS (SELECT doc_id, (1000000 * rarity_sum) // n_tokens AS score_milli
       FROM agg),
dist AS (SELECT score_milli AS s, count(*) AS c FROM sc GROUP BY 1),
cum AS (SELECT s, sum(c) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED
                               PRECEDING AND CURRENT ROW) AS cum
        FROM dist),
n AS (SELECT count(*)::BIGINT AS n FROM sc),
cuts AS (SELECT min(CASE WHEN cum * 3 >= n THEN s END) AS cut1,
                min(CASE WHEN cum * 3 >= 2 * n THEN s END) AS cut2
         FROM cum, n)
SELECT doc_id, score_milli::BIGINT AS score_milli,
       CASE WHEN score_milli <= cut1 THEN 'head'
            WHEN score_milli <= cut2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM sc, cuts ORDER BY doc_id
"""


BM25_QUERY = ["join", "filter", "window"]


def ta_bm25(spark, sf_dir):
    """BM25 relevance of every document against a fixed query
    (text_stats.bm25_score) — the retrieval-shaped curation tier (rank
    a crawl against a target topic, keep the head). Log-free integer
    BM25: every division is an exact integral div mirrored by the
    oracle, the final score is an order-free integer sum."""
    d = _t(spark, sf_dir, "documents")
    return (text_stats.bm25_score(d, BM25_QUERY)
            .orderBy("doc_id"))


_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in BM25_QUERY)

TA_BM25_SQL = f"""
WITH dl AS (
  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS dl FROM documents
),
tot AS (SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS n_tokens
        FROM dl),
tf AS (
  SELECT doc_id, tok, count(*)::BIGINT AS tf FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
  WHERE tok IN ({_BM25_TERMS_SQL}) GROUP BY doc_id, tok
),
dfreq AS (SELECT tok, count(*)::BIGINT AS df FROM tf GROUP BY tok),
scored AS (
  SELECT t.doc_id,
         ((1000000 * n_docs) // df) * tf * 2200000
         // (1000000 * tf
             + 1200000 * (250000 + 750000 * ((1000000 * dl * n_docs)
                                             // n_tokens) // 1000000)
               // 1000000) AS term_milli
  FROM tf t JOIN dfreq USING (tok) JOIN dl USING (doc_id) CROSS JOIN tot
),
agg AS (
  SELECT doc_id, sum(term_milli)::BIGINT AS bm25_milli,
         count(*)::BIGINT AS n_query_terms
  FROM scored GROUP BY doc_id
)
SELECT d.doc_id, d.dl AS n_tokens,
       coalesce(a.n_query_terms, 0)::BIGINT AS n_query_terms,
       coalesce(a.bm25_milli, 0)::BIGINT AS bm25_milli
FROM dl d LEFT JOIN agg a USING (doc_id)
ORDER BY d.doc_id
"""


TA_RARITY_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
cnt AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
tot AS (SELECT sum(c)::BIGINT AS n_total FROM cnt),
scored AS (
  SELECT doc_id, (1000000 * n_total) // c AS r
  FROM tok JOIN cnt USING (tok) CROSS JOIN tot
),
agg AS (
  SELECT doc_id, count(*)::BIGINT AS n_tokens,
         sum(r)::BIGINT AS rarity_sum
  FROM scored GROUP BY doc_id
)
SELECT doc_id, n_tokens, rarity_sum,
       rarity_sum::DOUBLE / n_tokens AS rarity_mean,
       (rarity_sum::DOUBLE / n_tokens >= {RARITY_KEEP_MIN_MEAN}
        AND rarity_sum::DOUBLE / n_tokens <= {RARITY_KEEP_MAX_MEAN}) AS keep
FROM agg ORDER BY doc_id
"""


# Classifier fixture weights: a deterministic stand-in for fastText's
# learned vector — prose-signal unigrams positive, spammy-signal tokens
# negative, one bigram to prove bigram features flow. Threshold 0 splits
# the gate corpus ~45/55.
CLS_NBUCKETS = 1 << 20
CLS_SEED_WEIGHTS = [
    ("the", 400), ("a", 250), ("data", 150), ("value", 100),
    ("fast table", 500),
    ("slow", -350), ("scan", -200), ("hash", -150),
]


def ta_classifier(spark, sf_dir):
    """fastText-shape quality-classifier inference
    (text_stats.quality_classifier): hashed unigram+bigram features,
    broadcast linear weights, mean-logit threshold (monotone sigmoid ==
    probability threshold, no transcendentals) — the CCNet/LLaMA/DCLM
    model-filter tier with the learned weights replaced by a
    deterministic seed table."""
    d = _t(spark, sf_dir, "documents")
    w = spark.createDataFrame(CLS_SEED_WEIGHTS, "feat string, w long").select(
        text_stats.classifier_bucket_col(F.col("feat"), CLS_NBUCKETS)
        .alias("bucket"), "w")
    return text_stats.quality_classifier(
        d, w, nbuckets=CLS_NBUCKETS, threshold_milli=0,
    ).orderBy("doc_id")


_CLS_WEIGHT_VALUES = ", ".join(
    f"(('0x' || substr(md5('{feat}'), 1, 8))::BIGINT % {CLS_NBUCKETS}, "
    f"CAST({w} AS BIGINT))"
    for feat, w in CLS_SEED_WEIGHTS
)

TA_CLASSIFIER_SQL = f"""
WITH wt(bucket, w) AS (VALUES {_CLS_WEIGHT_VALUES}),
t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
f AS (
  SELECT doc_id,
         unnest(tk || list_transform(range(1, len(tk)),
                                     i -> tk[i] || ' ' || tk[i + 1])) AS feat
  FROM t
),
b AS (
  SELECT doc_id,
         ('0x' || substr(md5(feat), 1, 8))::BIGINT % {CLS_NBUCKETS} AS bucket
  FROM f
),
agg AS (
  SELECT doc_id, count(*)::BIGINT AS n_features,
         sum(coalesce(w, 0))::BIGINT AS logit_sum
  FROM b LEFT JOIN wt USING (bucket) GROUP BY doc_id
)
SELECT doc_id, n_features, logit_sum,
       CAST(floor(logit_sum * 1000000.0 / n_features + 0.5) AS BIGINT)
         AS logit_milli,
       floor(logit_sum * 1000000.0 / n_features + 0.5) >= 0 AS keep
FROM agg ORDER BY doc_id
"""


BPE_MERGES = [("l", "o"), ("lo", "w"), ("e", "s"), ("es", "t"),
              ("e", "r"), ("n", "e"), ("ne", "w"), ("s", "t")]


def ta_bpe(spark, sf_dir):
    """Real BPE encoding (text_stats.bpe_encode_df): the greedy
    lowest-rank merge loop over an 8-entry merges table, run as an
    Arrow kernel on closed-form texts — doc_id %% 4 exercises merge
    chaining (l+o -> lo+w), rank precedence (e+s before s+t claims the
    's'), contraction/punctuation pre-tokens, and repeated words + digit
    runs (the per-batch word cache path). Expected encodings are
    precomputed constants, so the oracle pins the merge loop
    byte-for-byte."""
    d = _t(spark, sf_dir, "documents")
    m = F.pmod("doc_id", F.lit(4))
    text = (F.when(m == 0, F.lit("low lower"))
            .when(m == 1, F.lit("newest lowest"))
            .when(m == 2, F.lit("don't stop"))
            .otherwise(F.lit("low low 42!")))
    docs = d.select(F.col("doc_id").cast("long").alias("doc_id"),
                    text.alias("text"))
    out = text_stats.bpe_encode_df(docs, BPE_MERGES)
    return out.select(F.col("doc_id").cast("long").alias("doc_id"),
                      "n_pretokens", "n_tokens", "encoded")


TA_BPE_SQL = """
SELECT doc_id,
       CASE doc_id % 4 WHEN 0 THEN 2 WHEN 1 THEN 2 WHEN 2 THEN 3
            ELSE 4 END::BIGINT AS n_pretokens,
       CASE doc_id % 4 WHEN 0 THEN 3 WHEN 1 THEN 4 WHEN 2 THEN 8
            ELSE 5 END::BIGINT AS n_tokens,
       CASE doc_id % 4
         WHEN 0 THEN 'low|low er'
         WHEN 1 THEN 'new est|low est'
         WHEN 2 THEN 'd o n|'' t|st o p'
         ELSE 'low|low|4 2|!'
       END AS encoded
FROM documents ORDER BY doc_id
"""


def ta_lm_backoff(spark, sf_dir):
    """Stupid Backoff bigram LM scoring
    (text_stats.stupid_backoff_score, Brants et al. 2007 — the LM
    built FOR distributed web-scale counting: raw counts, no
    normalization, every score term one integer division). The model
    trains on the EVEN doc_ids and scores the whole corpus, so odd
    documents genuinely exercise the unseen-bigram backoff branch
    (n_backoff > 0) while even ones score fully in-model. Bigram
    transitions build in-row from pre-shifted slices; unigram counts
    broadcast; the score is an order-free integer sum — hash-exact."""
    d = _t(spark, sf_dir, "documents")
    train = d.filter(F.pmod("doc_id", F.lit(2)) == 0)
    return text_stats.stupid_backoff_score(d, train).orderBy("doc_id")


TA_LM_BACKOFF_SQL = """
WITH tr AS (SELECT text FROM documents WHERE doc_id % 2 = 0),
uni AS (
  SELECT w, count(*)::BIGINT AS c1
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM tr) GROUP BY w),
ntot AS (SELECT sum(c1)::BIGINT AS n FROM uni),
bi AS (
  SELECT bg, count(*)::BIGINT AS c2 FROM (
    SELECT l[i] || ' ' || l[i + 1] AS bg
    FROM (SELECT string_split(text, ' ') AS l FROM tr),
         unnest(range(1, len(l))) AS t(i)) GROUP BY bg),
dt AS (
  SELECT doc_id, l[i] AS w1, l[i + 1] AS w2,
         l[i] || ' ' || l[i + 1] AS bg
  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
       unnest(range(1, len(l))) AS t(i)),
terms AS (
  SELECT doc_id,
         CASE WHEN b.c2 IS NOT NULL THEN (1000000 * b.c2) // u1.c1
              WHEN u2.c1 IS NOT NULL
                THEN (400000 * ((1000000 * u2.c1) // n)) // 1000000
              ELSE 0 END AS term,
         CASE WHEN b.c2 IS NULL THEN 1 ELSE 0 END AS is_b
  FROM dt LEFT JOIN bi b USING (bg)
          LEFT JOIN uni u1 ON u1.w = dt.w1
          LEFT JOIN uni u2 ON u2.w = dt.w2
          CROSS JOIN ntot),
agg AS (
  SELECT doc_id, count(*)::BIGINT AS n_transitions,
         sum(is_b)::BIGINT AS n_backoff,
         sum(term)::BIGINT AS lm_score_milli
  FROM terms GROUP BY doc_id)
SELECT d.doc_id,
       coalesce(a.n_transitions, 0)::BIGINT AS n_transitions,
       coalesce(a.n_backoff, 0)::BIGINT AS n_backoff,
       coalesce(a.lm_score_milli, 0)::BIGINT AS lm_score_milli
FROM (SELECT doc_id FROM documents) d LEFT JOIN agg a USING (doc_id)
ORDER BY d.doc_id
"""


BPE_TRAIN_MERGES = 6


def ta_bpe_train(spark, sf_dir):
    """Distributed BPE merge LEARNING (text_stats.bpe_train, Sennrich
    et al. 2016 learn_bpe) over the real documents corpus: one corpus
    scan builds the word-frequency table, then each round counts
    adjacent symbol pairs (overlap-inclusive get_stats semantics,
    frequency-weighted) with a map-side-combined groupBy, takes the
    argmax pair (ties to the lexicographically smallest pair — both
    engines compare UTF-8 bytes), and applies the merge as a pure
    replace() projection over double-delimited symbol strings. The
    oracle unrolls the six training rounds as chained CTEs (the kmeans
    trick), so an ITERATIVE tokenizer-training algorithm sits
    hash-exact under the value gate."""
    d = _t(spark, sf_dir, "documents")
    return (text_stats.bpe_train(d, BPE_TRAIN_MERGES)
            .orderBy("merge_rank"))


def _bpe_train_ctes(n_rounds: int, src: str = "documents",
                    min_count: int = 2) -> str:
    """Unrolled learn_bpe rounds for DuckDB. Words ride as
    chr(30)-delimited symbol strings — chr(30) wrapped around every
    symbol and DOUBLED between symbols, so replace()'s left-to-right
    non-overlapping scan is exactly greedy BPE merge application and
    adjacent matches never share delimiter bytes (mirrors
    text_stats.bpe_train's encoding choice byte-for-byte). The engine's
    ``min_count`` early stop is mirrored structurally: each round's
    best-pair CTE filters ``cnt >= min_count``, and an empty best-pair
    row EMPTIES the next working table through the cross join — so once
    one round stops, every later round emits nothing, exactly the
    sequential break."""
    re_lit = text_stats._BPE_TOKEN_RE.replace("'", "''")
    ctes = [f"""bt_w0 AS (
  SELECT count(*)::BIGINT AS freq,
         chr(30) || array_to_string(regexp_extract_all(w, '.'),
                                    chr(30) || chr(30)) || chr(30) AS s
  FROM (SELECT ltrim(tok, ' ') AS w
        FROM (SELECT unnest(regexp_extract_all(text, '{re_lit}')) AS tok
              FROM {src}))
  WHERE strpos(w, chr(30)) = 0
  GROUP BY w
)"""]
    for r in range(1, n_rounds + 1):
        ctes.append(f"""bt_p{r} AS (
  SELECT a, b, sum(freq)::BIGINT AS cnt
  FROM (SELECT q.freq, q.l[t.i] AS a, q.l[t.i + 1] AS b
        FROM (SELECT freq,
                     string_split(trim(s, chr(30)),
                                  chr(30) || chr(30)) AS l
              FROM bt_w{r - 1}) q,
             unnest(range(1, len(q.l))) AS t(i))
  GROUP BY a, b
),
bt_b{r} AS (SELECT a, b, cnt FROM bt_p{r} WHERE cnt >= {min_count}
            ORDER BY cnt DESC, a, b LIMIT 1),
bt_w{r} AS (
  SELECT q.freq,
         replace(q.s, chr(30) || m.a || chr(30) || chr(30) || m.b
                      || chr(30),
                 chr(30) || m.a || m.b || chr(30)) AS s
  FROM bt_w{r - 1} q, bt_b{r} m
)""")
    return ",\n".join(ctes)


TA_BPE_TRAIN_SQL = (
    "WITH " + _bpe_train_ctes(BPE_TRAIN_MERGES) + "\nSELECT * FROM (\n"
    + "\n  UNION ALL ".join(
        f"SELECT {r} AS merge_rank, a AS pair_left, b AS pair_right, "
        f"cnt AS pair_count FROM bt_b{r}"
        for r in range(1, BPE_TRAIN_MERGES + 1))
    + "\n) ORDER BY merge_rank"
)


def ta_fixtext(spark, sf_dir):
    """Unicode text repair (text_stats.fix_text_df, the ftfy-shaped
    cleaning tier): doc_id %% 4 exercises (0) latin-1 mojibake repair
    (C3 A9 read as two latin-1 chars -> one e-acute), (1) NFC
    precomposition of a combining acute, (2) CRLF/CR normalization,
    (3) clean passthrough. Expected outputs are chr()-composed in the
    oracle, so the repair itself is hash-gated."""
    d = _t(spark, sf_dir, "documents")
    k = F.col("doc_id").cast("string")
    m = F.pmod("doc_id", F.lit(4))
    text = (F.when(m == 0, F.concat(F.lit("cafÃ© arm "), k))
            .when(m == 1, F.concat(F.lit("café arm "), k))
            .when(m == 2, F.concat(F.lit("line1\r\nline2\rend arm "), k))
            .otherwise(F.concat(F.lit("plain arm "), k)))
    docs = d.select(F.col("doc_id").cast("long").alias("doc_id"),
                    text.alias("text"))
    out = text_stats.fix_text_df(docs)
    return out.select(F.col("doc_id").cast("long").alias("doc_id"),
                      "text_fixed", "changed", "mojibake_repaired")


TA_FIXTEXT_SQL = """
SELECT doc_id,
       CASE doc_id % 4
         WHEN 0 THEN 'caf' || chr(233) || ' arm ' || doc_id::VARCHAR
         WHEN 1 THEN 'caf' || chr(233) || ' arm ' || doc_id::VARCHAR
         WHEN 2 THEN 'line1' || chr(10) || 'line2' || chr(10)
                     || 'end arm ' || doc_id::VARCHAR
         ELSE 'plain arm ' || doc_id::VARCHAR
       END AS text_fixed,
       doc_id % 4 <> 3 AS changed,
       doc_id % 4 = 0 AS mojibake_repaired
FROM documents ORDER BY doc_id
"""


def ta_c4(spark, sf_dir):
    """C4 cleaning rules (Raffel et al. 2020 §2.2, text_stats.c4_cols):
    terminal-punctuation line filter, 3-word minimum, javascript-line
    drop, and page drops for <5 sentences / "lorem ipsum" / curly
    braces. The gate corpus carries no lines or punctuation, so lines
    are derived deterministically: 7-word chunks decorated in closed
    form by (doc_id, line#) — a 'javascript ' prefix every
    (doc_id*7+i)%%11==0, ' lorem ipsum' on line 0 of doc_id%%29==0,
    ' {' on line 1 of doc_id%%31==0, and a terminal '.' whenever
    (doc_id+i)%%3!=0 — so every rule fires on some rows and both the
    decision and the surviving text are hash-gated."""
    d = _t(spark, sf_dir, "documents")
    chunks = dedup.word_chunks_col("text", k=7)
    lines = F.transform(
        chunks,
        lambda c, i: F.concat(
            F.when((F.col("doc_id") * 7 + i) % 11 == 0,
                   F.lit("javascript ")).otherwise(F.lit("")),
            c,
            F.when((F.col("doc_id") % 29 == 0) & (i == F.lit(0)),
                   F.lit(" lorem ipsum")).otherwise(F.lit("")),
            F.when((F.col("doc_id") % 31 == 0) & (i == F.lit(1)),
                   F.lit(" {")).otherwise(F.lit("")),
            F.when((F.col("doc_id") + i) % 3 != 0,
                   F.lit(".")).otherwise(F.lit("")),
        ))
    base = d.select("doc_id", lines.alias("lines"))
    stats = text_stats.c4_cols("lines")
    return (base.select("doc_id", *[v.alias(k) for k, v in stats.items()])
                .orderBy("doc_id"))


TA_C4_SQL = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
ln AS (
  SELECT doc_id, i,
         (CASE WHEN (doc_id*7 + i) % 11 = 0 THEN 'javascript ' ELSE '' END)
         || array_to_string(words[(i*7+1):(i*7+7)], ' ')
         || (CASE WHEN doc_id % 29 = 0 AND i = 0
                  THEN ' lorem ipsum' ELSE '' END)
         || (CASE WHEN doc_id % 31 = 0 AND i = 1 THEN ' {' ELSE '' END)
         || (CASE WHEN (doc_id + i) % 3 <> 0 THEN '.' ELSE '' END) AS line
  FROM t, LATERAL unnest(range(((len(words) - 1) // 7 + 1)::BIGINT)) AS u(i)
),
j AS (
  SELECT doc_id, i, line,
         (regexp_matches(line, '[.!?"]$')
          AND len(string_split(line, ' ')) >= 3
          AND NOT contains(lower(line), 'javascript')) AS lkeep
  FROM ln
),
agg AS (
  SELECT doc_id,
         count(*)::BIGINT AS n_lines,
         sum(CASE WHEN lkeep THEN 1 ELSE 0 END)::BIGINT AS n_kept_lines,
         coalesce(string_agg(CASE WHEN lkeep THEN line END, chr(10)
                             ORDER BY i), '') AS text_kept,
         string_agg(line, chr(10) ORDER BY i) AS full_text
  FROM j GROUP BY doc_id
)
SELECT doc_id, n_lines, n_kept_lines,
       (length(text_kept)
        - length(regexp_replace(text_kept, '[.!?]', '', 'g')))::BIGINT
         AS n_sentences,
       contains(lower(full_text), 'lorem ipsum') AS has_lorem,
       contains(full_text, '{') AS has_brace,
       ((length(text_kept)
         - length(regexp_replace(text_kept, '[.!?]', '', 'g'))) >= 5
        AND NOT contains(lower(full_text), 'lorem ipsum')
        AND NOT contains(full_text, '{')) AS keep,
       text_kept
FROM agg ORDER BY doc_id
"""


_LANG_PHRASES = {
    "en": "the cat and the dog is in it for you that",
    "de": "der hund und die katze ist nicht mit ein ich zu",
    "fr": "le chat et la les est pour que dans une vous",
    "es": "el gato los que y en por con una para es",
    "it": "il gatto di che per con non sono della una gli",
    "pt": "o gato os de que um para com uma mais não",
    "ru": "кошка и собака дома сегодня на улице хорошо",
    "xx": "zxqv wqers plomk trewq nbvcx jklmn",   # no stopwords -> other
}


def _lang_text_col():
    m = F.pmod("doc_id", F.lit(len(_LANG_PHRASES)))
    phrases = list(_LANG_PHRASES.values())
    expr = F.lit(phrases[0])
    for i, ph in enumerate(phrases[1:], 1):
        expr = F.when(m == i, F.lit(ph)).otherwise(expr)
    reps = F.pmod("doc_id", F.lit(3)) + 1
    return F.array_join(F.array_repeat(expr, reps.cast("int")), " ")


def ta_langid_multi(spark, sf_dir):
    """Multi-language ID (6 Latin-script stopword profiles + Cyrillic/CJK
    script gates) over synthesized per-language texts; the argmax ratio
    machinery is mirrored expression-for-expression in DuckDB."""
    d = _t(spark, sf_dir, "documents").withColumn("ltext", _lang_text_col())
    return (
        d.select("doc_id",
                 text_stats.lang_id_multi_col("ltext").alias("pred_lang"))
        .groupBy("pred_lang").agg(F.count("*").alias("n_docs"))
        .orderBy("pred_lang")
    )


def _langid_multi_sql() -> str:
    phrase_case = " ".join(
        f"WHEN {i} THEN '{ph}'"
        for i, ph in enumerate(_LANG_PHRASES.values())
    )
    ratio_structs = ",\n           ".join(
        "struct_pack(ratio_milli := CAST(floor(len(list_filter(toks, t -> "
        f"list_contains({'[' + ', '.join(repr(w) for w in words) + ']'}, t)))"
        "::DOUBLE / len(toks) * 1000000.0 + 0.5) AS BIGINT), "
        f"lang := '{lang}')"
        for lang, words in sorted(text_stats.LANG_STOPWORDS.items())
    )
    return f"""
WITH f AS (
  SELECT doc_id,
         array_to_string(list_transform(range(1, doc_id % 3 + 2),
           i -> CASE doc_id % {len(_LANG_PHRASES)} {phrase_case} END), ' ')
         AS ltext
  FROM documents
), t AS (
  SELECT doc_id, ltext, string_split(ltext, ' ') AS toks FROM f
), s AS (
  SELECT doc_id, ltext, toks,
         (length(ltext) - length(regexp_replace(ltext, '[^\\x00-\\x7F]', '',
          'g')))::DOUBLE / length(ltext) AS non_ascii,
         (length(ltext) - length(regexp_replace(ltext,
          '[\\x{{0400}}-\\x{{04FF}}]', '', 'g')))::DOUBLE
          / length(ltext) AS cyr,
         (length(ltext) - length(regexp_replace(ltext,
          '[\\x{{4E00}}-\\x{{9FFF}}]', '', 'g')))::DOUBLE
          / length(ltext) AS cjk,
         list_max([
           {ratio_structs}
         ]) AS best
  FROM t
), p AS (
  SELECT doc_id,
         CASE WHEN non_ascii >= 0.5 THEN
                CASE WHEN cyr >= 0.3 THEN 'ru'
                     WHEN cjk >= 0.3 THEN 'zh'
                     ELSE 'non_latin' END
              WHEN best.ratio_milli >= 60000 THEN best.lang
              ELSE 'other' END AS pred_lang
  FROM s
)
SELECT pred_lang, count(*) AS n_docs FROM p
GROUP BY pred_lang ORDER BY pred_lang"""


def ta_quality(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        text_stats.quality_score_col(as_millionths=True).alias("quality_milli"),
    ).orderBy("doc_id")


TA_QUALITY_SQL = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
)
SELECT doc_id,
       CAST(floor((
         least(len(toks)::DOUBLE / 100.0, 1.0) * 0.4
         + len(list_distinct(toks))::DOUBLE / len(toks) * 0.3
         + least(len(list_filter(toks, x -> list_contains({_STOPS_SQL}, x)))::DOUBLE
                 / len(toks) * 3.0, 1.0) * 0.3
       ) * 1000000.0 + 0.5) AS BIGINT) AS quality_milli
FROM t ORDER BY doc_id
"""


def ta_gopher(spark, sf_dir):
    """Gopher-style repetition/quality gates (Rae et al. 2021, table A1):
    word stats as pure codegen columns, duplicate-"line" fractions over
    deterministic 3-word chunks (the corpus has no newlines) computed
    in-row with higher-order functions — zero extra shuffles; one scan."""
    d = _t(spark, sf_dir, "documents")
    # materialize lines as a real column: no CSE inside HOF lambdas
    d = d.withColumn("lines", dedup.word_chunks_col("text", k=3))
    cols = {**text_stats.gopher_word_cols("text"),
            **text_stats.gopher_dup_line_cols("lines"),
            **text_stats.gopher_top_ngram_cols("text", n=2)}
    # two projections: keep reads the MATERIALIZED stat columns. Folding
    # gopher_keep_col(cols) into one select would embed a second copy of
    # every O(n^2) HOF stat — codegen subexpression elimination skips
    # lambda-bearing trees (SPARK-35410), and CollapseProject keeps
    # multiply-referenced non-cheap aliases apart.
    stats = d.select("doc_id", *(v.alias(k) for k, v in cols.items()))
    keep = text_stats.gopher_keep_col(
        {k: F.col(k) for k in cols})
    return stats.select("*", keep.alias("keep")).orderBy("doc_id")


TA_GOPHER_SQL = """
WITH t AS (
  SELECT doc_id, text, string_split(text, ' ') AS words FROM documents
), l AS (
  SELECT doc_id, text, words,
         list_transform(range(((len(words) - 1) // 3 + 1)::BIGINT),
                        i -> array_to_string(words[(i*3+1):(i*3+3)], ' '))
           AS lines
  FROM t
), f AS (
  SELECT doc_id, text, words, lines,
         list_transform(range(1, len(lines) + 1),
                        i -> CASE WHEN list_position(lines, lines[i]) < i
                                  THEN 1 ELSE 0 END) AS dupf
  FROM l
), g AS (
  SELECT *, list_transform(range(1, greatest(len(words) - 1, 1) + 1),
            i -> words[least(i, len(words))] || ' '
                 || words[least(i + 1, len(words))]) AS grams
  FROM f
), h AS (
  SELECT *, list_transform(grams,
            x -> len(list_filter(grams, y -> y = x))) AS cnts
  FROM g
), s AS (
  SELECT doc_id, text, words, lines, dupf,
         list_aggregate(list_transform(range(1, len(grams) + 1),
           i -> {'cnt': cnts[i], 'chars': cnts[i] * length(grams[i])}),
           'max') AS best
  FROM h
), m AS (
  SELECT doc_id,
    len(words)::BIGINT AS n_words,
    floor(list_aggregate(list_transform(words, w -> length(w)),
                         'sum')::DOUBLE / len(words) * 1000000.0
          + 0.5)::BIGINT AS mean_word_len_milli,
    floor((len(string_split(text, '#')) - 1
           + len(string_split(text, '...')) - 1)::DOUBLE
          / len(words) * 1000000.0 + 0.5)::BIGINT AS symbol_word_ratio_milli,
    floor(len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]')))::DOUBLE
          / len(words) * 1000000.0 + 0.5)::BIGINT AS alpha_word_frac_milli,
    len(lines)::BIGINT AS n_lines,
    floor(list_aggregate(dupf, 'sum')::DOUBLE / len(lines) * 1000000.0
          + 0.5)::BIGINT AS dup_line_frac_milli,
    floor(list_aggregate(list_transform(range(1, len(lines) + 1),
                                        i -> dupf[i] * length(lines[i])),
                         'sum')::DOUBLE
          / list_aggregate(list_transform(lines, x -> length(x)),
                           'sum') * 1000000.0 + 0.5)::BIGINT
      AS dup_line_char_frac_milli,
    floor(best.chars::DOUBLE / length(text) * 1000000.0 + 0.5)::BIGINT
      AS top2gram_char_frac_milli
  FROM s
)
SELECT *,
  (n_words BETWEEN 50 AND 100000
   AND mean_word_len_milli BETWEEN 3000000 AND 10000000
   AND symbol_word_ratio_milli <= 100000
   AND alpha_word_frac_milli >= 800000
   AND dup_line_frac_milli <= 300000
   AND dup_line_char_frac_milli <= 200000
   AND top2gram_char_frac_milli <= 200000) AS keep
FROM m ORDER BY doc_id
"""


def ta_pii_scrub(spark, sf_dir):
    """PII redaction (email/IPv4/rigid-phone regexes valid in BOTH Java
    regex and RE2, so the oracle is exact): deterministic PII is injected
    per doc, then counted and replaced by tokens. Pure codegen — one scan,
    three regexp passes, no shuffle."""
    d = _t(spark, sf_dir, "documents")
    injected = F.concat(
        F.col("text"), F.lit(" reach user"),
        F.col("doc_id").cast("string"), F.lit("@mail.example.org or 10."),
        (F.col("doc_id") % 200).cast("string"), F.lit(".0.7 tel +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" cc u"), F.col("doc_id").cast("string"), F.lit("@ex.io"))
    d = d.withColumn("pii_text", injected)
    cols = text_stats.pii_scrub_cols("pii_text")
    return d.select(
        "doc_id", *(v.alias(k) for k, v in cols.items())).orderBy("doc_id")


TA_PII_SCRUB_SQL = r"""
WITH t AS (
  SELECT doc_id,
         text || ' reach user' || doc_id::VARCHAR || '@mail.example.org or 10.'
              || (doc_id % 200)::VARCHAR || '.0.7 tel +1-555-'
              || lpad((doc_id % 10000)::VARCHAR, 4, '0')
              || ' cc u' || doc_id::VARCHAR || '@ex.io' AS pii_text
  FROM documents
), e AS (
  SELECT doc_id, pii_text,
         len(regexp_extract_all(pii_text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT
           AS n_emails,
         regexp_replace(pii_text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
             '<EMAIL>', 'g') AS t1
  FROM t
), i AS (
  SELECT doc_id, n_emails,
         len(regexp_extract_all(t1,
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))::BIGINT AS n_ips,
         regexp_replace(t1, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b',
                        '<IP>', 'g') AS t2
  FROM e
)
SELECT doc_id, n_emails, n_ips,
       len(regexp_extract_all(t2, '\+\d{1,3}-\d{3}-\d{4}'))::BIGINT
         AS n_phones,
       regexp_replace(t2, '\+\d{1,3}-\d{3}-\d{4}', '<PHONE>', 'g')
         AS scrubbed
FROM i ORDER BY doc_id
"""


def dedup_paragraphs(spark, sf_dir):
    """CCNet-style paragraph-level exact dedup over deterministic 5-word
    chunks: a paragraph survives only at its first (doc_id, pos)
    occurrence corpus-wide. First-occurrence is a combinable min-struct
    aggregate on the paragraph md5 (map-side partials absorb hot
    boilerplate), then an equi-join back and one doc_id reassembly
    shuffle with order restored by sort_array."""
    d = _t(spark, sf_dir, "documents")
    paras = d.select(
        "doc_id", dedup.word_chunks_col("text", k=5).alias("paragraphs"))
    out = dedup.paragraph_dedup(paras)
    return out.select("doc_id", "n_paras", "n_kept", "text_kept") \
              .orderBy("doc_id")


DEDUP_PARAGRAPHS_SQL = """
WITH ex AS (
  SELECT doc_id, i AS pos,
         array_to_string(words[(i*5+1):(i*5+5)], ' ') AS para
  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
       LATERAL unnest(range(((len(words) - 1) // 5 + 1)::BIGINT)) AS u(i)
), kept AS (
  SELECT doc_id, pos, para,
         row_number() OVER (PARTITION BY md5(para)
                            ORDER BY doc_id, pos) = 1 AS keep
  FROM ex
)
SELECT doc_id, count(*)::BIGINT AS n_paras,
       sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       coalesce(string_agg(CASE WHEN keep THEN para END,
                           chr(10) || chr(10) ORDER BY pos), '')
         AS text_kept
FROM kept GROUP BY doc_id ORDER BY doc_id
"""


def dedup_substring(spark, sf_dir):
    """Suffix-array-style exact substring dedup (Lee et al. 2021,
    arXiv:2107.06499) over k=4-token windows: a window fingerprint seen
    more than once corpus-wide is removed everywhere but its first
    (doc_id, pos) occurrence, and a token is dropped iff a removed window
    covers it. The oracle replays the identical rule with window
    fingerprints + a correlated coverage EXISTS, so interval merging,
    first-occurrence tie-breaks and the rebuilt text are all hash-gated.
    k=4 because the word-soup gate corpus draws from a ~30-word
    vocabulary — production uses ~50 BPE tokens, same plan."""
    d = _t(spark, sf_dir, "documents")
    return dedup.exact_substring_dedup(d, k=4).orderBy("doc_id")


DEDUP_SUBSTRING_SQL = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
w AS (
  SELECT doc_id, i AS pos,
         md5(array_to_string(toks[(i+1):(i+4)], ' ')) AS h
  FROM t, LATERAL unnest(range(greatest(len(toks) - 3, 0)::BIGINT)) AS u(i)
),
f AS (
  SELECT doc_id, pos,
         CASE WHEN count(*) OVER (PARTITION BY h) > 1 AND
                   row_number() OVER (PARTITION BY h
                                      ORDER BY doc_id, pos) > 1
              THEN 1 ELSE 0 END AS dup
  FROM w
),
agg AS (
  SELECT doc_id, count(*)::BIGINT AS n_windows,
         sum(dup)::BIGINT AS n_dup_windows
  FROM f GROUP BY doc_id
),
tok AS (
  SELECT doc_id, i AS idx, toks[i+1] AS tk, len(toks) AS n_tokens
  FROM t, LATERAL unnest(range(len(toks)::BIGINT)) AS u(i)
),
cov AS (
  SELECT tok.doc_id, tok.idx, tok.tk, tok.n_tokens,
         EXISTS (SELECT 1 FROM f
                 WHERE f.doc_id = tok.doc_id AND f.dup = 1
                   AND f.pos BETWEEN tok.idx - 3 AND tok.idx) AS covered
  FROM tok
)
SELECT c.doc_id,
       max(c.n_tokens)::BIGINT AS n_tokens,
       coalesce(max(a.n_windows), 0)::BIGINT AS n_windows,
       coalesce(max(a.n_dup_windows), 0)::BIGINT AS n_dup_windows,
       sum(CASE WHEN c.covered THEN 1 ELSE 0 END)::BIGINT
         AS n_removed_tokens,
       coalesce(string_agg(CASE WHEN NOT c.covered THEN c.tk END, ' '
                           ORDER BY c.idx), '') AS text_kept
FROM cov c LEFT JOIN agg a USING (doc_id)
GROUP BY c.doc_id ORDER BY c.doc_id
"""


def sample_mixture(spark, sf_dir):
    """Training-mixture construction (sampling.mixture_sample): each
    source is sampled toward an absolute target count — rate (millionths)
    = min(1e6, target*1e6 div count), md5-bucket membership. Targets
    (i%%4+1)*10 over src0..src19 exercise BOTH regimes at sf0.01
    (count=25: sources with target >= 25 hit the rate cap and keep
    everything) and the summary aggregates verify the kept set exactly."""
    d = _t(spark, sf_dir, "documents")
    s = sampling.mixture_sample(
        d, {f"src{i}": (i % 4 + 1) * 10 for i in range(20)})
    return (s.groupBy("source").agg(
        F.count("*").cast("long").alias("n_sampled"),
        F.sum("doc_id").cast("long").alias("sum_ids"),
    ).orderBy("source"))


SAMPLE_MIXTURE_SQL = """
WITH n AS (
  SELECT source, count(*) AS cnt FROM documents GROUP BY source
), b AS (
  SELECT d.source, d.doc_id,
         ('0x' || substr(md5('mix:' || d.doc_id::VARCHAR), 1, 8))::BIGINT
           % 1000000 AS bucket,
         least(1000000::BIGINT,
               ((CAST(substr(d.source, 4) AS INT) % 4 + 1) * 10
                * 1000000::BIGINT) // n.cnt) AS rate
  FROM documents d JOIN n USING (source)
)
SELECT source, count(*)::BIGINT AS n_sampled, sum(doc_id)::BIGINT AS sum_ids
FROM b WHERE bucket < rate
GROUP BY source ORDER BY source
"""


def sample_dsir(spark, sf_dir):
    """DSIR importance resampling (sampling.dsir_sample, Xie et al.
    2023): docs carry closed-form domain texts — physics vocabulary for
    doc_id %% 7 in {0,1}, finance vocabulary otherwise, shared trailer
    tokens for overlap — and the target sample is the %% 7 == 0 slice,
    so in-domain docs (including the UNSEEN %%7==1 slice, the point of
    importance weighting) score high and get resampled at ~750k
    millionths while out-of-domain docs fall to ~4k. Every ratio is a
    staged integer division, so the DuckDB twin is hash-exact."""
    d = _t(spark, sf_dir, "documents")
    m = F.pmod("doc_id", F.lit(7))
    text = F.concat(
        F.when(m <= 1, F.lit("quark gluon boson lepton quark boson"))
         .otherwise(F.lit("stock bond yield credit stock yield")),
        F.lit(" common token here"))
    docs = d.select(F.col("doc_id").cast("long").alias("doc_id"),
                    text.alias("text"))
    target = docs.filter(F.col("doc_id") % 7 == 0)
    return sampling.dsir_sample(
        docs, target, nbuckets=4096, mult_milli=600000).orderBy("doc_id")


SAMPLE_DSIR_SQL = """
WITH docs AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 7 <= 1
               THEN 'quark gluon boson lepton quark boson'
               ELSE 'stock bond yield credit stock yield' END)
         || ' common token here' AS text
  FROM documents
), t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM docs),
f AS (
  SELECT doc_id,
         unnest(tk || list_transform(range(1, len(tk)),
                                     i -> tk[i] || ' ' || tk[i + 1])) AS feat
  FROM t
), b AS (
  SELECT doc_id,
         ('0x' || substr(md5(feat), 1, 8))::BIGINT % 4096 AS bucket
  FROM f
), cr AS (SELECT bucket, count(*)::BIGINT AS cr FROM b GROUP BY 1),
ct AS (SELECT bucket, count(*)::BIGINT AS ct FROM b
       WHERE doc_id % 7 = 0 GROUP BY 1),
tot AS (SELECT (SELECT sum(cr) FROM cr) AS nr,
               (SELECT coalesce(sum(ct), 0) FROM ct) AS nt),
w AS (
  SELECT cr.bucket,
         ((((coalesce(ct.ct, 0) + 1) * 1000000) // (cr.cr + 1))
          * (tot.nr + 4096)) // (tot.nt + 4096) AS ratio_milli
  FROM cr LEFT JOIN ct USING (bucket), tot
), agg AS (
  SELECT b.doc_id, count(*)::BIGINT AS n_features,
         (sum(w.ratio_milli) // count(*))::BIGINT AS importance_milli
  FROM b JOIN w USING (bucket) GROUP BY b.doc_id
)
SELECT doc_id, n_features, importance_milli,
       ('0x' || substr(md5('dsir:' || doc_id::VARCHAR), 1, 8))::BIGINT
         % 1000000
         < least(1000000::BIGINT, (importance_milli * 600000) // 1000000)
         AS keep
FROM agg ORDER BY doc_id
"""


def sample_stratified(spark, sf_dir):
    """Deterministic per-source sampling (training-mix construction):
    membership = md5 hash bucket < per-stratum rate, a pure filter at the
    scan — reproducible across reruns/engines/partitionings, never
    materializes the reject set. Verified per stratum by count + id-sum."""
    d = _t(spark, sf_dir, "documents")
    s = sampling.stratified_sample(
        d, {"src0": 500000, "src1": 250000, "src2": 125000},
        default_milli=62500)
    return (s.groupBy("source").agg(
        F.count("*").cast("long").alias("n_sampled"),
        F.sum("doc_id").cast("long").alias("sum_ids"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    ).orderBy("source"))


SAMPLE_STRATIFIED_SQL = """
WITH b AS (
  SELECT source, doc_id,
         ('0x' || substr(md5('strat:' || doc_id::VARCHAR), 1, 8))::BIGINT
           % 1000000 AS bucket
  FROM documents
)
SELECT source, count(*)::BIGINT AS n_sampled, sum(doc_id)::BIGINT AS sum_ids,
       min(doc_id) AS min_id, max(doc_id) AS max_id
FROM b
WHERE bucket < CASE source WHEN 'src0' THEN 500000 WHEN 'src1' THEN 250000
                           WHEN 'src2' THEN 125000 ELSE 62500 END
GROUP BY source ORDER BY source
"""


EXACT_K = 25


def sample_exact_k(spark, sf_dir):
    """Exactly-k-per-stratum carving (sampling.exact_k_per_stratum):
    the fixed-SIZE held-out sets rate-based sampling can't produce —
    selection order is the md5 hash bucket with the raw id as total
    tie-break, so every selected row, its bucket and its rank are all
    under the hash gate (the part_topk_per_brand window pattern on the
    sampling side)."""
    d = _t(spark, sf_dir, "documents")
    return (sampling.exact_k_per_stratum(d, EXACT_K)
            .orderBy("stratum", "sel_rank"))


SAMPLE_EXACT_K_SQL = f"""
WITH b AS (
  SELECT doc_id, source AS stratum,
         ('0x' || substr(md5('exactk:' || doc_id::VARCHAR), 1, 8))::BIGINT
           % 1000000 AS sel_bucket
  FROM documents
),
r AS (
  SELECT doc_id, stratum, sel_bucket,
         row_number() OVER (PARTITION BY stratum
                            ORDER BY sel_bucket ASC, doc_id ASC)
           AS sel_rank
  FROM b
)
SELECT doc_id, stratum, sel_bucket, sel_rank::INT AS sel_rank
FROM r WHERE sel_rank <= {EXACT_K} ORDER BY stratum, sel_rank
"""


def sample_split(spark, sf_dir):
    """Deterministic train/val/test assignment (sampling.split_assign):
    each holdout split owns a cumulative md5 bucket range, train takes
    the rest — stable under reruns and corpus growth (a doc's split
    depends only on its id), zero shuffles. Verified per split by
    count/id-sum/min/max aggregates (per-doc assignment equality is
    pinned by test_split_assign_deterministic, which recomputes every
    bucket)."""
    d = _t(spark, sf_dir, "documents")
    s = sampling.split_assign(d, {"test": 20000, "val": 30000})
    return (s.groupBy("split").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("doc_id").cast("long").alias("sum_ids"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    ).orderBy("split"))


SAMPLE_SPLIT_SQL = """
WITH b AS (
  SELECT doc_id,
         ('0x' || substr(md5('split:' || doc_id::VARCHAR), 1, 8))::BIGINT
           % 1000000 AS bucket
  FROM documents
),
s AS (
  SELECT doc_id, CASE WHEN bucket < 20000 THEN 'test'
                      WHEN bucket < 50000 THEN 'val'
                      ELSE 'train' END AS split
  FROM b
)
SELECT split, count(*)::BIGINT AS n_docs, sum(doc_id)::BIGINT AS sum_ids,
       min(doc_id) AS min_id, max(doc_id) AS max_id
FROM s GROUP BY split ORDER BY split
"""


def pack_batches(spark, sf_dir):
    """Token-budget sequence packing: docs pack contiguously into
    256-token bins inside 16 independent md5 hash buckets (global
    first-fit is sequential; bucketed packing is the parallel form a
    10^12-doc job needs — bins feed parallel trainers as (bucket, bin))."""
    d = _t(spark, sf_dir, "documents")
    d = d.withColumn("n_tokens",
                     text_stats.token_count_col("text").cast("long"))
    out = sampling.pack_sequences(d, "n_tokens", budget=256, buckets=16)
    return out.select("doc_id", "n_tokens", "pack_bucket", "pack_bin") \
              .orderBy("doc_id")


PACK_BATCHES_SQL = """
WITH t AS (
  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens,
         ('0x' || substr(md5('pack:' || doc_id::VARCHAR), 1, 8))::BIGINT
           % 1000000 % 16 AS pack_bucket
  FROM documents
)
SELECT doc_id, n_tokens, pack_bucket,
       ((sum(n_tokens) OVER (PARTITION BY pack_bucket ORDER BY doc_id)
         - n_tokens) // 256)::BIGINT AS pack_bin
FROM t ORDER BY doc_id
"""


def ta_langid(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return (
        d.select("doc_id", text_stats.lang_id_col().alias("pred_lang"))
        .groupBy("pred_lang").agg(F.count("*").alias("n_docs"))
        .orderBy("pred_lang")
    )


TA_LANGID_SQL = f"""
WITH t AS (
  SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents
), p AS (
  SELECT doc_id,
         CASE WHEN length(regexp_replace(text, '[^\\x00-\\x7F]', '', 'g'))::DOUBLE
                   / length(text) < 0.5 THEN 'non_latin'
              WHEN len(list_filter(toks, x -> list_contains({_STOPS_SQL}, x)))::DOUBLE
                   / len(toks) >= 0.12 THEN 'en'
              ELSE 'other' END AS pred_lang
  FROM t
)
SELECT pred_lang, count(*) AS n_docs FROM p GROUP BY pred_lang ORDER BY pred_lang
"""


def ta_fingerprint(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        text_stats.fingerprint_col().alias("fp"),
        text_stats.rolling_fingerprint_col(window=8).alias("winnow_fp"),
    ).orderBy("doc_id")


TA_FINGERPRINT_SQL = """
WITH t AS (
  SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents
)
SELECT doc_id, md5(text) AS fp,
       list_min(list_transform(
         range(1, greatest(len(toks) - 7, 1) + 1),
         i -> md5(array_to_string(
                list_transform(range(0, 8),
                               j -> toks[least(i + j, len(toks))]), ' '))
       )) AS winnow_fp
FROM t ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Deduplication (documents)
# ---------------------------------------------------------------------------

def dedup_url(spark, sf_dir):
    """URL canonicalization dedup (crawl first pass): doc_id %% 6 builds
    the same page through mixed-case host + default port (0), trailing
    slash (1), tracking params (2), fragment + utm (3), a distinct
    non-default-port page (4) and a params-kept page (5). Branches 0+1
    and 2+3 collapse pairwise per k = doc_id // 6; the oracle constructs
    the canonical forms closed-form — it never re-runs the canonicalizer."""
    from .functions.dedup import url_dedup
    d = _t(spark, sf_dir, "documents")
    k = (F.col("doc_id") / 6).cast("long").cast("string")
    urls = d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.when(d.doc_id % 6 == 0, F.concat(
            F.lit("HTTP://Corpus.EXAMPLE:80/p/doc"), k))
         .when(d.doc_id % 6 == 1, F.concat(
            F.lit("http://corpus.example/p/doc"), k, F.lit("/")))
         .when(d.doc_id % 6 == 2, F.concat(
            F.lit("https://Corpus.example:443/a?utm_source=feed&id="), k))
         .when(d.doc_id % 6 == 3, F.concat(
            F.lit("https://corpus.example/a?id="), k,
            F.lit("&utm_campaign=x#frag")))
         .when(d.doc_id % 6 == 4, F.concat(
            F.lit("https://corpus.example:8443/b/doc"), k))
         .otherwise(F.concat(
            F.lit("http://other.example/b?x="), k, F.lit("&y=2")))
         .alias("url"))
    return url_dedup(urls).orderBy("canonical_url")


DEDUP_URL_SQL = """
WITH canon AS (
  SELECT doc_id,
         CASE doc_id % 6
           WHEN 0 THEN 'http://corpus.example/p/doc' || (doc_id // 6)::VARCHAR
           WHEN 1 THEN 'http://corpus.example/p/doc' || (doc_id // 6)::VARCHAR
           WHEN 2 THEN 'https://corpus.example/a?id=' || (doc_id // 6)::VARCHAR
           WHEN 3 THEN 'https://corpus.example/a?id=' || (doc_id // 6)::VARCHAR
           WHEN 4 THEN 'https://corpus.example:8443/b/doc'
                       || (doc_id // 6)::VARCHAR
           ELSE 'http://other.example/b?x=' || (doc_id // 6)::VARCHAR
                || '&y=2'
         END AS canonical_url
  FROM documents
)
SELECT canonical_url, min(doc_id) AS keep_id, count(*) AS n_copies
FROM canon GROUP BY canonical_url ORDER BY canonical_url
"""


def dedup_bloom(spark, sf_dir):
    """Bloom-filter snapshot membership (the incremental-ingest
    pre-filter snapshot_dedup's 100 TB story names): snapshot = every
    doc_id %% 3 == 0 text; the 480-bit/4-hash filter is DELIBERATELY
    undersized so the corpus exhibits real false positives, and the
    query audits them against the exact fingerprint join — the
    engineering tradeoff (miss-free, FP-quantified) is what the gate
    pins. Filter words are md5-derived integers, so the DuckDB twin
    rebuilds the identical bitmap."""
    from .functions.dedup import bloom_snapshot_filter
    d = _t(spark, sf_dir, "documents")
    snap = d.filter(F.pmod("doc_id", F.lit(3)) == 0).select("text")
    tagged = bloom_snapshot_filter(d, snap, m_bits=480, k=4)
    snap_fp = (snap.select(F.md5("text").alias("fp")).distinct()
               .withColumn("fp_hit", F.lit(True)))
    exact = F.coalesce("fp_hit", F.lit(False))
    return (tagged.select(F.col("doc_id").cast("long").alias("doc_id"),
                          F.md5("text").alias("fp"), "bloom_member")
            .join(F.broadcast(snap_fp), "fp", "left")
            .select("doc_id", "bloom_member",
                    exact.alias("exact_member"),
                    (F.col("bloom_member") & ~exact)
                    .alias("false_positive"))
            .orderBy("doc_id"))


DEDUP_BLOOM_SQL = """
WITH snap AS (
  SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id % 3 = 0
), pos AS (
  SELECT DISTINCT
         ('0x' || substr(md5(j.k::VARCHAR || ':' || fp), 1, 8))::BIGINT
           % 480 AS p
  FROM snap, range(4) j(k)
), words AS (
  SELECT p // 60 AS w, bit_or(1::BIGINT << (p % 60)::INT) AS bits
  FROM pos GROUP BY 1
), probe AS (
  SELECT d.doc_id,
         ('0x' || substr(md5(j.k::VARCHAR || ':' || md5(d.text)), 1, 8))
           ::BIGINT % 480 AS p
  FROM documents d, range(4) j(k)
), hit AS (
  SELECT doc_id,
         bool_and((COALESCE(w.bits, 0) >> (p % 60)::INT) & 1 = 1)
           AS bloom_member
  FROM probe LEFT JOIN words w ON probe.p // 60 = w.w
  GROUP BY doc_id
)
SELECT d.doc_id, h.bloom_member,
       md5(d.text) IN (SELECT fp FROM snap) AS exact_member,
       h.bloom_member AND md5(d.text) NOT IN (SELECT fp FROM snap)
         AS false_positive
FROM documents d JOIN hit h USING (doc_id)
ORDER BY doc_id
"""


URL_BLOCKLIST = ["bad.example", "tracker.example"]
URL_NSFW_WEIGHTS = [("casino", 600000), ("poker", 500000), ("xxx", 900000)]


def url_filter(spark, sf_dir):
    """RefinedWeb-style URL filtering (dedup.url_quality_filter): doc_id
    %% 7 arms a clean page (0), a blocklisted domain reached via a
    subdomain (1: eTLD+1 catches it), a co.uk multi-label-suffix host
    (2: PSL logic keeps 3 labels), a two-word soft drop (3: 1.1 over the
    1.0 threshold), a one-word soft keep (4), an unparseable URL (5) and
    the blocklisted domain itself (6). The oracle states every expected
    host/domain/score closed-form — it never re-parses URLs in SQL."""
    from .functions.dedup import url_quality_filter
    d = _t(spark, sf_dir, "documents")
    k = (F.col("doc_id") / 7).cast("long").cast("string")
    urls = d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.when(d.doc_id % 7 == 0, F.concat(
            F.lit("https://news.example.org/story"), k))
         .when(d.doc_id % 7 == 1, F.concat(
            F.lit("https://Spam.BAD.example/p"), k))
         .when(d.doc_id % 7 == 2, F.concat(
            F.lit("http://shop.widgets.co.uk/item"), k))
         .when(d.doc_id % 7 == 3, F.concat(
            F.lit("https://ok.example/casino-poker"), k))
         .when(d.doc_id % 7 == 4, F.concat(
            F.lit("https://ok.example/poker-news"), k))
         .when(d.doc_id % 7 == 5, F.concat(F.lit("not a url "), k))
         .otherwise(F.concat(F.lit("http://bad.example/"), k))
         .alias("url"))
    bl = spark.createDataFrame([(x,) for x in URL_BLOCKLIST],
                               "domain string")
    return url_quality_filter(
        urls, bl, URL_NSFW_WEIGHTS, threshold_milli=1_000_000,
    ).orderBy("doc_id")


URL_FILTER_SQL = """
WITH f AS (
  SELECT doc_id, doc_id % 7 AS m, (doc_id // 7)::VARCHAR AS k
  FROM documents
)
SELECT doc_id,
       CASE m WHEN 0 THEN 'https://news.example.org/story' || k
              WHEN 1 THEN 'https://Spam.BAD.example/p' || k
              WHEN 2 THEN 'http://shop.widgets.co.uk/item' || k
              WHEN 3 THEN 'https://ok.example/casino-poker' || k
              WHEN 4 THEN 'https://ok.example/poker-news' || k
              WHEN 5 THEN 'not a url ' || k
              ELSE 'http://bad.example/' || k END AS url,
       CASE m WHEN 0 THEN 'news.example.org'
              WHEN 1 THEN 'spam.bad.example'
              WHEN 2 THEN 'shop.widgets.co.uk'
              WHEN 3 THEN 'ok.example' WHEN 4 THEN 'ok.example'
              WHEN 6 THEN 'bad.example' END AS host,
       CASE m WHEN 0 THEN 'example.org' WHEN 1 THEN 'bad.example'
              WHEN 2 THEN 'widgets.co.uk'
              WHEN 3 THEN 'ok.example' WHEN 4 THEN 'ok.example'
              WHEN 6 THEN 'bad.example' END AS domain,
       m IN (1, 6) AS blocked,
       CASE m WHEN 3 THEN 1100000 WHEN 4 THEN 500000
              ELSE 0 END::BIGINT AS nsfw_milli,
       m <> 5 AS parse_ok,
       m IN (0, 2, 4) AS keep
FROM f ORDER BY doc_id
"""


_ROBOTS_H0 = "User-agent: *\nDisallow: /private/\nAllow: /private/ok\n"
_ROBOTS_H1 = ("User-agent: mybot\nDisallow: /tmp/*.json$\n"
              "User-agent: *\nDisallow: /\n")


def url_robots(spark, sf_dir):
    """robots.txt compliance gate (graph.robots_filter, RFC 9309): the
    frontier joins its host's robots.txt (broadcast) and each URL is
    judged in one Arrow kernel. doc_id %% 4 picks the host — h0 has a
    generic group (prefix disallow + longest-match allow carve-out), h1
    has a SPECIFIC 'mybot' group (wildcard+anchor rule; the catch-all
    Disallow: / must NOT apply to mybot), h2 serves an empty file and
    h3 has no robots row (both allow-everything per the RFC) — and
    doc_id %% 5 picks the path, exercising prefix match, the allow
    carve-out, '*'/'$' matching and the anchored-miss tail."""
    from .functions.graph import robots_filter
    d = _t(spark, sf_dir, "documents")
    h = F.pmod("doc_id", F.lit(4)).cast("string")
    m = F.pmod("doc_id", F.lit(5))
    k = F.col("doc_id").cast("string")
    path = (F.when(m == 0, F.concat(F.lit("/public/a"), k))
            .when(m == 1, F.concat(F.lit("/private/a"), k))
            .when(m == 2, F.concat(F.lit("/private/ok/a"), k))
            .when(m == 3, F.concat(F.lit("/tmp/f"), k, F.lit(".json")))
            .otherwise(F.concat(F.lit("/tmp/f"), k, F.lit(".json.txt"))))
    frontier = d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.concat(F.lit("http://h"), h, F.lit(".example"), path)
        .alias("url"))
    robots = spark.createDataFrame(
        [("h0.example", _ROBOTS_H0), ("h1.example", _ROBOTS_H1),
         ("h2.example", "")],
        "host string, robots_txt string")
    return (robots_filter(frontier, robots, user_agent="mybot/1.0")
            .select("doc_id", "url", "host", "path", "robots_allowed"))


URL_ROBOTS_SQL = """
WITH f AS (
  SELECT doc_id, doc_id % 4 AS h, doc_id % 5 AS m,
         doc_id::VARCHAR AS k
  FROM documents
), p AS (
  SELECT doc_id, h, m,
         CASE m WHEN 0 THEN '/public/a' || k
                WHEN 1 THEN '/private/a' || k
                WHEN 2 THEN '/private/ok/a' || k
                WHEN 3 THEN '/tmp/f' || k || '.json'
                ELSE '/tmp/f' || k || '.json.txt' END AS path
  FROM f
)
SELECT doc_id,
       'http://h' || h::VARCHAR || '.example' || path AS url,
       'h' || h::VARCHAR || '.example' AS host,
       path,
       CASE WHEN h = 0 AND m = 1 THEN FALSE
            WHEN h = 1 AND m = 3 THEN FALSE
            ELSE TRUE END AS robots_allowed
FROM p ORDER BY doc_id
"""


def ext_wet_roundtrip(spark, sf_dir):
    """WET export/import invertibility: every document writes through
    the engine's OWN WET sink (warcsource.wet_records_df — conversion
    records, odd docs as gzip members via the per-row flag — one
    kernel, one scan) and reads back through the full
    WARC source pipeline; the oracle is simply the documents table, so
    the hash gate proves write(read(x)) == x byte-for-byte across the
    record framing, the gzip-member packaging, the content routing and
    the plain-text extraction kernel."""
    from .warcsource import extract_from_warc, wet_records_df
    d = _t(spark, sf_dir, "documents")
    uri = F.concat(F.lit("http://c.example/doc"),
                   F.col("doc_id").cast("string"))
    wet = wet_records_df(
        d.select(uri.alias("uri"), "text",
                 (F.col("doc_id") % 2 == 1).alias("gz")),
        gzip_member_col="gz",
    ).select(F.col("uri").alias("doc_id"), F.col("wet").alias("content"))
    out = extract_from_warc(wet)
    return out.select(
        F.col("doc_id").alias("record_id"), "status",
        F.try_element_at("spans", F.lit(1)).getField("text")
         .alias("extracted"),
    )


EXT_WET_SQL = """
SELECT 'http://c.example/doc' || doc_id::VARCHAR || '/0' AS record_id,
       'ok' AS status, text AS extracted
FROM documents ORDER BY record_id
"""


def ext_wat_export(spark, sf_dir):
    """WAT metadata export (warcsource.wat_records_df — the metadata
    twin of the WET sink): closed-form pages write through the engine's
    own WAT sink (doc_id %% 4 == 3 as gzip members) and a verification
    kernel parses the records back with parse_warc_records, surfacing
    the full JSON envelope string. Arms: (0) title with an entity +
    two links, (1) NO title, a bare-attribute href ("" — lxml parity)
    and a fragment href (WAT stores hrefs RAW), (2) entity +
    whitespace-collapse title, zero links, (3) a script-wrapped fake
    title that must NOT match (rawtext is not element soup) + one
    link, round-tripped through a gzip member. The oracle is the JSON
    literal itself, so sort_keys/separator byte layout is gated."""
    from .warcsource import parse_warc_records, wat_records_df
    d = _t(spark, sf_dir, "documents")
    k = F.col("doc_id").cast("string")
    m = F.pmod("doc_id", F.lit(4))
    html = (
        F.when(m == 0, F.concat(
            F.lit("<html><head><title>Doc "), k,
            F.lit(" &amp; Co</title></head><body><a href=\"/a"), k,
            F.lit("\">x</a><a href=\"http://e.example/b?id="), k,
            F.lit("\">y</a></body></html>")))
        .when(m == 1, F.lit('<a href>x</a><a href="#f">y</a>'))
        .when(m == 2, F.lit("<head><title> A&lt;B  \n C </title></head>"))
        .otherwise(F.concat(
            F.lit('<script>var t="<title>fake</title>"</script>'
                  '<a href="/z'), k, F.lit('">l</a>'))))
    pages = d.select(
        F.concat(F.lit("http://p.example/page"), k).alias("uri"),
        html.alias("html"), (m == 3).alias("gz"))
    wat = wat_records_df(pages, gzip_member_col="gz")

    def verify(batches: Iterator) -> Iterator:
        import pandas as pd
        for b in batches:
            rows = []
            for uri, payload in zip(b["uri"], b["wat"]):
                recs = parse_warc_records(bytes(payload))
                for r in recs:
                    rows.append((r["uri"], r["type"], r["content_type"],
                                 r["payload"].decode("utf-8")))
            yield pd.DataFrame(rows, columns=[
                "record_uri", "warc_type", "content_type",
                "payload_json"])

    return wat.mapInPandas(verify, schema=(
        "record_uri string, warc_type string, content_type string, "
        "payload_json string"))


_WAT_PRE = ('{"Envelope":{"Payload-Metadata":{"HTTP-Response-Metadata":'
            '{"HTML-Metadata":{')
_WAT_POST = ('}}},"WARC-Header-Metadata":{"WARC-Target-URI":'
             '"http://p.example/page')

EXT_WAT_SQL = f"""
WITH f AS (SELECT doc_id, doc_id % 4 AS m, doc_id::VARCHAR AS k
           FROM documents)
SELECT 'http://p.example/page' || k AS record_uri,
       'metadata' AS warc_type,
       'application/json' AS content_type,
       '{_WAT_PRE}' ||
       CASE m
         WHEN 0 THEN '"Head":{{"Title":"Doc ' || k || ' & Co"}},'
                     || '"Links":[{{"path":"A@/href","url":"/a' || k
                     || '"}},{{"path":"A@/href","url":'
                     || '"http://e.example/b?id=' || k || '"}}]'
         WHEN 1 THEN '"Links":[{{"path":"A@/href","url":""}},'
                     || '{{"path":"A@/href","url":"#f"}}]'
         WHEN 2 THEN '"Head":{{"Title":"A<B C"}},"Links":[]'
         ELSE '"Links":[{{"path":"A@/href","url":"/z' || k || '"}}]'
       END ||
       '{_WAT_POST}' || k || '","WARC-Type":"response"}}}}}}' AS payload_json
FROM f ORDER BY record_uri
"""


def ext_sitemap(spark, sf_dir):
    """Sitemap ingestion (graph.sitemap_frontier, sitemaps.org
    protocol): doc_id %% 4 builds (0) a namespaced urlset with a
    lastmod on its first entry and a loc-less entry that must be
    skipped, (1) a GZIPPED urlset (sitemap.xml.gz, the common
    delivery), (2) a sitemapindex whose child locs come back flagged
    is_index for the fetch tier's next round, (3) a non-sitemap XML
    document quarantined per-file with a deterministic error."""
    from .functions.graph import sitemap_frontier
    d = _t(spark, sf_dir, "documents")

    def kernel(batches: Iterator) -> Iterator:
        import gzip
        import pandas as pd
        ns = ' xmlns="http://www.sitemaps.org/schemas/sitemap/0.9"'
        for b in batches:
            rows = []
            for doc_id in b["doc_id"]:
                doc_id = int(doc_id)
                m, k = doc_id % 4, str(doc_id)
                if m == 0:
                    urls = "".join(
                        f"<url><loc>http://s{k}.example/p{j}</loc>"
                        + (f"<lastmod>2024-01-0{doc_id % 9 + 1}"
                           "</lastmod>" if j == 0 else "")
                        + "</url>" for j in range(3))
                    xml = (f"<urlset{ns}>{urls}"
                           "<url><priority>0.5</priority></url>"
                           "</urlset>").encode()
                elif m == 1:
                    urls = "".join(
                        f"<url><loc> http://s{k}.example/g{j} </loc></url>"
                        for j in range(2))
                    xml = gzip.compress(
                        f"<urlset{ns}>{urls}</urlset>".encode(), mtime=0)
                elif m == 2:
                    sm = "".join(
                        f"<sitemap><loc>http://s{k}.example/child{j}.xml"
                        "</loc></sitemap>" for j in range(2))
                    xml = f"<sitemapindex{ns}>{sm}</sitemapindex>".encode()
                else:
                    xml = b"<html><body>not a sitemap</body></html>"
                rows.append((f"s{k}", xml))
            yield pd.DataFrame(rows, columns=["doc_id", "content"])

    schema = StructType([
        StructField("doc_id", StringType(), False),
        StructField("content", BinaryType()),
    ])
    maps = d.select("doc_id").mapInPandas(kernel, schema=schema)
    return sitemap_frontier(maps)


EXT_SITEMAP_SQL = """
WITH d AS (
  SELECT doc_id, doc_id % 4 AS m, doc_id::VARCHAR AS k FROM documents
), r AS (
  SELECT 's' || k AS sitemap_id, 'ok' AS status,
         'http://s' || k || '.example/p' || j::VARCHAR AS loc,
         CASE WHEN j = 0
              THEN '2024-01-0' || ((doc_id % 9) + 1)::VARCHAR END AS lastmod,
         FALSE AS is_index
  FROM d, range(3) t(j) WHERE m = 0
  UNION ALL
  SELECT 's' || k, 'ok', 'http://s' || k || '.example/g' || j::VARCHAR,
         NULL, FALSE
  FROM d, range(2) t(j) WHERE m = 1
  UNION ALL
  SELECT 's' || k, 'ok',
         'http://s' || k || '.example/child' || j::VARCHAR || '.xml',
         NULL, TRUE
  FROM d, range(2) t(j) WHERE m = 2
  UNION ALL
  SELECT 's' || k, 'error: not a sitemap document: <html>', NULL, NULL,
         NULL
  FROM d WHERE m = 3
)
SELECT * FROM r ORDER BY sitemap_id, coalesce(loc, '')
"""


def url_sitemaps(spark, sf_dir):
    """Sitemap discovery from robots.txt (graph.sitemap_directives —
    the sitemaps.org cross-submission record, group-independent per
    RFC 9309 §2.2.4). Arms: doc_id %% 4 == 0 two absolute directives
    after rule lines (line provenance 2 and 3); == 1 a BOM-prefixed
    first line in SiTeMaP-case with a trailing comment (BOM strip +
    case-insensitive key + comment strip all load-bearing); == 2 a
    rules-only file (no rows); == 3 a relative value (kept, flagged
    is_absolute=false — the frontier owns the repair) plus an
    empty-valued directive (dropped). Pure Catalyst — zero Python,
    zero shuffles before the output sort."""
    from .functions.graph import sitemap_directives
    d = _t(spark, sf_dir, "documents")
    k = F.col("doc_id").cast("string")
    m = F.pmod("doc_id", F.lit(4))
    base = F.concat(F.lit("https://h"), k, F.lit(".example"))
    robots = (
        F.when(m == 0, F.concat(
            F.lit("User-agent: *\nDisallow: /tmp\nSitemap: "), base,
            F.lit("/sitemap.xml\nSitemap: "), base, F.lit("/s2.xml.gz\n")))
        .when(m == 1, F.concat(
            F.lit("\ufeff" + "SiTeMaP : "), base,
            F.lit("/a.xml # index\nUser-agent: *\nDisallow:\n")))
        .when(m == 2, F.lit("User-agent: *\nAllow: /\n"))
        .otherwise(F.lit("sitemap:/sitemap_local.xml\nsitemap:\n")))
    robots_df = d.select(F.concat(F.lit("h"), k).alias("host"),
                         robots.alias("robots_txt"))
    return (sitemap_directives(robots_df)
            .orderBy("host", "line_no"))


URL_SITEMAPS_SQL = """
WITH f AS (SELECT doc_id, doc_id % 4 AS m, 'h' || doc_id::VARCHAR AS host,
                  'https://h' || doc_id::VARCHAR || '.example' AS base
           FROM documents),
r AS (
  SELECT host, 2 AS line_no, base || '/sitemap.xml' AS sitemap_url,
         TRUE AS is_absolute FROM f WHERE m = 0
  UNION ALL
  SELECT host, 3, base || '/s2.xml.gz', TRUE FROM f WHERE m = 0
  UNION ALL
  SELECT host, 0, base || '/a.xml', TRUE FROM f WHERE m = 1
  UNION ALL
  SELECT host, 0, '/sitemap_local.xml', FALSE FROM f WHERE m = 3
)
SELECT * FROM r ORDER BY host, line_no
"""


def crawl_frontier(spark, sf_dir):
    """The crawl-tier capstone: operators COMPOSE into a frontier
    pipeline the way corpus_curation composes the curation side —
    discovered links -> URL canonicalization (case/port/tracking/slash
    variants collapse, dedup.canonical_url_col) -> in-link counting
    (the frontier priority) -> robots.txt gate (per-host broadcast,
    RFC 9309) -> domain blocklist -> composed keep. Every gate fires:
    h1 is robots-disallowed entirely, h2 is blocklisted, h0's /private/
    subtree is robots-blocked, and arms 0-2 collapse to one canonical
    URL per (host, page) proving the dedup feeds the priority count."""
    from .functions.dedup import canonical_url_col
    from .functions.graph import robots_filter
    d = _t(spark, sf_dir, "documents")
    m = F.pmod("doc_id", F.lit(5))
    t = F.pmod("doc_id", F.lit(3)).cast("string")
    k = F.pmod(F.col("doc_id") / 5, F.lit(20)).cast("long").cast("string")
    url = (F.when(m == 0, F.concat(F.lit("HTTP://H"), t,
                                   F.lit(".Example:80/p"), k))
           .when(m == 1, F.concat(F.lit("http://h"), t,
                                  F.lit(".example/p"), k, F.lit("/")))
           .when(m == 2, F.concat(F.lit("http://h"), t,
                                  F.lit(".example/p"), k,
                                  F.lit("?utm_source=x")))
           .when(m == 3, F.concat(F.lit("http://h"), t,
                                  F.lit(".example/q"), k, F.lit("?id=7")))
           .otherwise(F.concat(F.lit("http://h"), t,
                               F.lit(".example/private/p"), k)))
    agg = (d.select(canonical_url_col(url).alias("canonical_url"))
           .groupBy("canonical_url")
           .agg(F.count("*").cast("long").alias("n_refs")))
    robots = spark.createDataFrame(
        [("h0.example", "User-agent: *\nDisallow: /private/\n"),
         ("h1.example", "User-agent: *\nDisallow: /\n")],
        "host string, robots_txt string")
    gated = robots_filter(agg, robots, user_agent="mybot/1.0",
                          url_col="canonical_url")
    blocked = F.col("host") == "h2.example"
    return gated.select(
        "canonical_url", "host", "path", "n_refs", "robots_allowed",
        blocked.alias("blocklisted"),
        (F.col("robots_allowed") & ~blocked).alias("keep"))


CRAWL_FRONTIER_SQL = """
WITH e AS (
  SELECT doc_id, doc_id % 5 AS m, (doc_id % 3)::VARCHAR AS t,
         ((doc_id // 5) % 20)::VARCHAR AS k
  FROM documents
), c AS (
  SELECT CASE
           WHEN m IN (0, 1, 2) THEN 'http://h' || t || '.example/p' || k
           WHEN m = 3 THEN 'http://h' || t || '.example/q' || k || '?id=7'
           ELSE 'http://h' || t || '.example/private/p' || k
         END AS canonical_url,
         'h' || t || '.example' AS host,
         CASE WHEN m = 4 THEN '/private/p' || k
              WHEN m = 3 THEN '/q' || k
              ELSE '/p' || k END AS path
  FROM e
), g AS (
  SELECT canonical_url, host, path, count(*)::BIGINT AS n_refs
  FROM c GROUP BY 1, 2, 3
)
SELECT canonical_url, host, path, n_refs,
       CASE WHEN host = 'h1.example' THEN FALSE
            WHEN host = 'h0.example' AND path LIKE '/private/%' THEN FALSE
            ELSE TRUE END AS robots_allowed,
       host = 'h2.example' AS blocklisted,
       (CASE WHEN host = 'h1.example' THEN FALSE
             WHEN host = 'h0.example' AND path LIKE '/private/%' THEN FALSE
             ELSE TRUE END) AND host <> 'h2.example' AS keep
FROM g ORDER BY canonical_url
"""


def ext_outlinks(spark, sf_dir):
    """Outlink harvesting + RFC 3986 resolution (graph.harvest_outlinks,
    html.find_hrefs): absolute, relative-path, dot-segment, network-path
    and query-only hrefs resolve against the page URL; fragments strip;
    fragment-only/javascript hrefs skip but still consume their document
    position; anchors inside <script> raw text are not elements. The
    edge-list producer for host_pagerank."""
    from .functions.graph import harvest_outlinks
    d = _t(spark, sf_dir, "documents")
    m = (F.col("doc_id") % 4).cast("string")
    k = F.col("doc_id").cast("string")
    pages = d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.concat(F.lit("https://site"), m, F.lit(".example/dir/page"),
                 k, F.lit(".html")).alias("url"),
        F.concat(
            F.lit('<p><a href="https://other.example/p'), k,
            F.lit('">x</a> <a href="a/b'), k,
            F.lit('.html">y</a> <a href="../up.html">z</a> '
                  '<a href="//cdn.example/lib.js">w</a> '
                  '<a href="#frag">s</a> '
                  '<a href="javascript:void(0)">t</a> '
                  '<a href="/abs?q='), k,
            F.lit('#f">u</a></p>'
                  '<script><a href="/ignored">no</a></script>'),
        ).alias("html"))
    return harvest_outlinks(pages)


EXT_OUTLINKS_SQL = """
WITH f AS (
  SELECT doc_id, (doc_id % 4)::VARCHAR AS m, doc_id::VARCHAR AS k
  FROM documents
),
l AS (
  SELECT doc_id, unnest([
    struct_pack(link_idx := 0,
                href := 'https://other.example/p' || k,
                resolved := 'https://other.example/p' || k,
                host := 'other.example'),
    struct_pack(link_idx := 1,
                href := 'a/b' || k || '.html',
                resolved := 'https://site' || m || '.example/dir/a/b'
                            || k || '.html',
                host := 'site' || m || '.example'),
    struct_pack(link_idx := 2,
                href := '../up.html',
                resolved := 'https://site' || m || '.example/up.html',
                host := 'site' || m || '.example'),
    struct_pack(link_idx := 3,
                href := '//cdn.example/lib.js',
                resolved := 'https://cdn.example/lib.js',
                host := 'cdn.example'),
    struct_pack(link_idx := 6,
                href := '/abs?q=' || k || '#f',
                resolved := 'https://site' || m || '.example/abs?q=' || k,
                host := 'site' || m || '.example')
  ]) AS u
  FROM f
)
SELECT doc_id, u.link_idx::INT AS link_idx, u.href, u.resolved, u.host
FROM l ORDER BY doc_id, link_idx
"""


PAGERANK_ITERS = 2
PAGERANK_DAMPING = 850_000


def _pagerank_edges(d):
    e1 = d.select(
        F.concat(F.lit("h"), (F.col("doc_id") % 10).cast("string"))
        .alias("src"),
        F.concat(F.lit("h"), ((7 * F.col("doc_id") + 3) % 10).cast("string"))
        .alias("dst"))
    e2 = d.select(
        F.concat(F.lit("h"), ((3 * F.col("doc_id") + 1) % 10).cast("string"))
        .alias("src"),
        F.concat(F.lit("h"),
                 (F.call_function("div", F.col("doc_id"), F.lit(7)) % 10)
                 .cast("string")).alias("dst"))
    return e1.unionByName(e2)


def host_pagerank(spark, sf_dir):
    """Host-graph PageRank (graph.pagerank) — the domain-quality prior
    crawl pipelines rank hosts with (CommonCrawl-style host ranks). Two
    power-iteration rounds of integer-exact rank transfer over a
    multi-edge host graph derived closed-form from doc_ids; the oracle
    unrolls the rounds as chained CTEs (the kmeans trick), so an
    ITERATIVE graph algorithm sits under the value-hash gate."""
    from .functions.graph import pagerank
    d = _t(spark, sf_dir, "documents")
    return pagerank(_pagerank_edges(d), iters=PAGERANK_ITERS,
                    damping_milli=PAGERANK_DAMPING).orderBy("host")


def _pagerank_ctes(iters: int) -> str:
    from .functions.graph import RANK_SCALE
    damp = PAGERANK_DAMPING
    ctes = [
        """e AS (
  SELECT 'h' || (doc_id % 10)::VARCHAR AS src,
         'h' || ((7 * doc_id + 3) % 10)::VARCHAR AS dst FROM documents
  UNION ALL
  SELECT 'h' || ((3 * doc_id + 1) % 10)::VARCHAR,
         'h' || ((doc_id // 7) % 10)::VARCHAR FROM documents)""",
        """nodes AS (SELECT src AS host FROM e UNION SELECT dst FROM e)""",
        """nn AS (SELECT count(*) AS n FROM nodes)""",
        f"""tp AS (
  SELECT ({RANK_SCALE} * (1000000 - {damp}) // 1000000) // n AS t,
         {RANK_SCALE} // n AS r_init FROM nn)""",
        """deg AS (SELECT src AS host, count(*) AS deg FROM e GROUP BY src)""",
        """r0 AS (SELECT host, CAST(r_init AS BIGINT) AS rank
  FROM nodes CROSS JOIN tp)""",
    ]
    for i in range(1, iters + 1):
        ctes.append(f"""s{i} AS (
  SELECT e.dst AS host,
         ((r.rank * {damp} // 1000000) // d.deg) AS share
  FROM e JOIN r{i - 1} r ON r.host = e.src JOIN deg d ON d.host = e.src)""")
        ctes.append(f"""r{i} AS (
  SELECT nodes.host,
         CAST(tp.t + coalesce(sum(s{i}.share), 0) AS BIGINT) AS rank
  FROM nodes CROSS JOIN tp LEFT JOIN s{i} ON s{i}.host = nodes.host
  GROUP BY nodes.host, tp.t)""")
    return ",\n".join(ctes)


HOST_PAGERANK_SQL = (
    "WITH " + _pagerank_ctes(PAGERANK_ITERS)
    + f"\nSELECT host, rank FROM r{PAGERANK_ITERS} ORDER BY host"
)


def dedup_exact(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return dedup.exact_duplicates(d).orderBy("fp")


DEDUP_EXACT_SQL = """
SELECT md5(text) AS fp, count(*) AS n_docs, min(doc_id) AS keep_id
FROM documents GROUP BY fp ORDER BY fp
"""

_SHINGLES_SQL = """
  SELECT doc_id AS id,
         list_distinct(list_transform(
           range(1, greatest(len(toks) - 2, 0) + 1),
           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
         )) AS sh
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
  WHERE len(toks) >= 3
"""


def decontaminate(spark, sf_dir):
    """Benchmark decontamination (GPT-3 style): docs with doc_id %% 97 == 0
    form the held-out eval set; every other doc is flagged if it shares
    any word 3-gram with it. Bench grams deduplicate then broadcast
    (Bloom filter at 100 TB); the corpus explodes once and equi-joins."""
    d = _t(spark, sf_dir, "documents")
    out = dedup.contamination_flags(d, (F.col("doc_id") % 97) == 0, n=3)
    return (out.select(F.col("id").alias("doc_id"), "n_hits", "contaminated")
               .orderBy("doc_id"))


DECONTAMINATE_SQL = """
WITH s AS (
  -- unlike _SHINGLES_SQL, keeps short docs (empty gram list, 0 hits)
  SELECT doc_id AS id,
         list_distinct(list_transform(
           range(1, greatest(len(toks) - 2, 0) + 1),
           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
         )) AS sh
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
),
tagged AS (SELECT s.id, s.sh, (s.id % 97 = 0) AS is_bench FROM s),
bench AS (SELECT DISTINCT unnest(sh) AS gram FROM tagged WHERE is_bench),
ex AS (SELECT id, unnest(sh) AS gram FROM tagged WHERE NOT is_bench),
hits AS (
  SELECT ex.id, count(DISTINCT ex.gram) AS n FROM ex
  JOIN bench ON ex.gram = bench.gram GROUP BY ex.id
)
SELECT t.id AS doc_id, coalesce(h.n, 0)::BIGINT AS n_hits,
       coalesce(h.n, 0) > 0 AS contaminated
FROM tagged t LEFT JOIN hits h ON h.id = t.id
WHERE NOT t.is_bench
ORDER BY doc_id
"""


NGRAM_MAX_DF = 100


def dedup_ngram_pairs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    p = dedup.ngram_jaccard_pairs(d, JACCARD_T, max_df=NGRAM_MAX_DF)
    return p.select(
        "a_id", "b_id", "inter", "na", "nb",
        F.floor(F.col("jaccard") * 1000000.0 + 0.5).cast("long")
        .alias("jaccard_milli"),
    ).orderBy("a_id", "b_id")


# The oracle mirrors the df-cap SEMANTICS (candidates from df<=cap shingles
# only, verification over full shingle sets), not just the gate-SF output —
# parity holds at any scale factor, even one with stop-phrase shingles.
DEDUP_NGRAM_SQL = f"""
WITH s AS ({_SHINGLES_SQL}),
inv AS (SELECT id, unnest(sh) AS shingle FROM s),
hot AS (SELECT shingle FROM inv GROUP BY shingle
        HAVING count(*) > {NGRAM_MAX_DF}),
cold AS (SELECT id, shingle FROM inv ANTI JOIN hot USING (shingle)),
cand AS (
  SELECT DISTINCT a.id AS a_id, b.id AS b_id
  FROM cold a JOIN cold b ON a.shingle = b.shingle AND a.id < b.id
),
verified AS (
  SELECT a_id, b_id, len(list_intersect(sa.sh, sb.sh)) AS inter,
         len(sa.sh) AS na, len(sb.sh) AS nb
  FROM cand JOIN s sa ON sa.id = cand.a_id JOIN s sb ON sb.id = cand.b_id
)
SELECT a_id, b_id, inter, na, nb,
       CAST(floor(inter::DOUBLE / (na + nb - inter) * 1000000.0 + 0.5) AS BIGINT)
           AS jaccard_milli
FROM verified
WHERE inter::DOUBLE / (na + nb - inter) >= {JACCARD_T}
ORDER BY a_id, b_id
"""

_MINHASH_SQL_SIGS = ",\n         ".join(
    f"list_min(list_transform(hp, p -> (p.a + {seed} * p.b) % 2147483647"
    f" + CASE WHEN (p.a + {seed} * p.b) % 2147483647 < 0"
    f" THEN 2147483647 ELSE 0 END)) AS mh{seed}"
    for seed in range(dedup.MINHASH_K)
)
_BANDS_SQL = ", ".join(
    "md5(" + " || '|' || ".join(f"mh{b*4+j}" for j in range(4)) + f") AS band{b}"
    for b in range(dedup.LSH_BANDS)
)


def dedup_minhash_lsh(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    p = dedup.minhash_lsh_pairs(d, MINHASH_T)
    return p.select(
        "a_id", "b_id", "inter", "na", "nb",
        F.floor(F.col("jaccard") * 1000000.0 + 0.5).cast("long")
        .alias("jaccard_milli"),
    ).orderBy("a_id", "b_id")


_MINHASH_CTES = f"""s AS ({_SHINGLES_SQL}),
hp AS (
  SELECT id, sh,
         list_transform(sh, x -> struct_pack(
           a := ('0x' || substr(md5(x), 1, 8))::BIGINT,
           b := ('0x' || substr(md5(x), 9, 8))::BIGINT)) AS hp
  FROM s
),
sigs AS (
  SELECT id, sh,
         {_MINHASH_SQL_SIGS}
  FROM hp
),
banded AS (
  SELECT id, sh, {_BANDS_SQL} FROM sigs
),
lng AS (
  SELECT id, sh,
         unnest([0, 1, 2, 3]) AS band_idx,
         unnest([band0, band1, band2, band3]) AS band_key
  FROM banded
),
cand AS (
  SELECT DISTINCT a.id AS a_id, b.id AS b_id, a.sh AS sha, b.sh AS shb
  FROM lng a JOIN lng b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.id < b.id
),
verified AS (
  SELECT a_id, b_id,
         len(list_intersect(sha, shb)) AS inter,
         len(sha) AS na, len(shb) AS nb
  FROM cand
)"""

DEDUP_MINHASH_SQL = f"""
WITH {_MINHASH_CTES}
SELECT a_id, b_id, inter, na, nb,
       CAST(floor(inter::DOUBLE / (na + nb - inter) * 1000000.0 + 0.5) AS BIGINT)
           AS jaccard_milli
FROM verified
WHERE inter::DOUBLE / (na + nb - inter) >= {MINHASH_T}
ORDER BY a_id, b_id
"""


def dedup_incremental(spark, sf_dir):
    """Incremental corpus dedup (dedup.snapshot_dedup): even doc_ids are
    the existing snapshot, the new batch is the odd doc_ids PLUS exact
    copies of every 50th snapshot doc re-keyed to doc_id+1000000 — so
    the exact tier (md5 vs the distinct snapshot fingerprint set), the
    near tier (cross-side MinHash band join + exact-Jaccard verify +
    deterministic best-match pick) and the clean-keep path all carry
    rows. New-vs-snapshot only: no self-join on either side."""
    d = _t(spark, sf_dir, "documents")
    snap = d.filter(F.col("doc_id") % 2 == 0)
    new = (
        d.filter(F.col("doc_id") % 2 == 1).select("doc_id", "text")
        .unionAll(
            d.filter(F.col("doc_id") % 50 == 0)
            .select((F.col("doc_id") + 1000000).alias("doc_id"), "text"))
    )
    return dedup.snapshot_dedup(new, snap, MINHASH_T).orderBy("doc_id")


def _shingles_sql_over(table: str) -> str:
    return f"""
  SELECT doc_id AS id,
         list_distinct(list_transform(
           range(1, greatest(len(toks) - 2, 0) + 1),
           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
         )) AS sh
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM {table})
  WHERE len(toks) >= 3
"""


DEDUP_INCREMENTAL_SQL = f"""
WITH newb AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents
  WHERE doc_id % 50 = 0
),
snap AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
sN AS ({_shingles_sql_over('newb')}),
sS AS ({_shingles_sql_over('snap')}),
hpN AS (
  SELECT id, sh,
         list_transform(sh, x -> struct_pack(
           a := ('0x' || substr(md5(x), 1, 8))::BIGINT,
           b := ('0x' || substr(md5(x), 9, 8))::BIGINT)) AS hp
  FROM sN
),
hpS AS (
  SELECT id, sh,
         list_transform(sh, x -> struct_pack(
           a := ('0x' || substr(md5(x), 1, 8))::BIGINT,
           b := ('0x' || substr(md5(x), 9, 8))::BIGINT)) AS hp
  FROM sS
),
sigN AS (SELECT id, {_MINHASH_SQL_SIGS} FROM hpN),
sigS AS (SELECT id, {_MINHASH_SQL_SIGS} FROM hpS),
bandN AS (SELECT id, {_BANDS_SQL} FROM sigN),
bandS AS (SELECT id, {_BANDS_SQL} FROM sigS),
lngN AS (
  SELECT id, unnest([0, 1, 2, 3]) AS band_idx,
         unnest([band0, band1, band2, band3]) AS band_key
  FROM bandN
),
lngS AS (
  SELECT id, unnest([0, 1, 2, 3]) AS band_idx,
         unnest([band0, band1, band2, band3]) AS band_key
  FROM bandS
),
cand AS (
  SELECT DISTINCT n.id AS new_id, s.id AS snap_id
  FROM lngN n JOIN lngS s USING (band_idx, band_key)
),
ver AS (
  SELECT new_id, snap_id,
         len(list_intersect(a.sh, b.sh)) AS inter,
         len(a.sh) AS na, len(b.sh) AS nb
  FROM cand
  JOIN sN a ON a.id = cand.new_id
  JOIN sS b ON b.id = cand.snap_id
),
near AS (
  SELECT new_id, snap_id,
         CAST(floor(inter::DOUBLE / (na + nb - inter) * 1000000.0 + 0.5)
              AS BIGINT) AS jm
  FROM ver WHERE inter::DOUBLE / (na + nb - inter) >= {MINHASH_T}
),
best AS (
  SELECT new_id, snap_id AS near_dup_id, jm FROM (
    SELECT *, row_number() OVER (PARTITION BY new_id
                                 ORDER BY jm DESC, snap_id ASC) AS rn
    FROM near) WHERE rn = 1
),
ex AS (
  SELECT DISTINCT n.doc_id AS id FROM newb n
  JOIN (SELECT DISTINCT md5(text) AS fp FROM snap) sf
    ON md5(n.text) = sf.fp
)
SELECT nb.doc_id,
       (ex.id IS NOT NULL) AS exact_dup,
       coalesce(best.near_dup_id, -1)::BIGINT AS near_dup_id,
       coalesce(best.jm, 0)::BIGINT AS jaccard_milli,
       (ex.id IS NULL AND best.near_dup_id IS NULL) AS keep
FROM newb nb
LEFT JOIN ex ON ex.id = nb.doc_id
LEFT JOIN best ON best.new_id = nb.doc_id
ORDER BY nb.doc_id
"""


def dedup_clusters(spark, sf_dir):
    """The dedup END GAME: near-dup pairs (MinHash+LSH) -> undirected
    connected components (iterative min-label propagation) -> one canonical
    keep-id per cluster. Oracled by a recursive CTE computing min-reachable
    over the same verified pair set — a distributed graph algorithm under
    the value-hash gate."""
    d = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(d, MINHASH_T).select("a_id", "b_id")
    comps = dedup.connected_components(
        d.select("doc_id"), pairs, id_col="doc_id")
    return (
        comps.select(F.col("id").alias("doc_id"),
                     F.col("comp").alias("cluster_id"))
        .withColumn("cluster_size",
                    F.count("*").over(Window.partitionBy("cluster_id")))
        .orderBy("doc_id")
    )


DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE {_MINHASH_CTES},
mpairs AS (
  SELECT a_id, b_id FROM verified
  WHERE inter::DOUBLE / (na + nb - inter) >= {MINHASH_T}
),
edges AS (
  SELECT a_id AS src, b_id AS dst FROM mpairs
  UNION ALL
  SELECT b_id, a_id FROM mpairs
),
reach(id, comp) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id
),
comps AS (SELECT id AS doc_id, min(comp) AS cluster_id FROM reach GROUP BY id)
SELECT doc_id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM comps ORDER BY doc_id
"""


CURATION_QUALITY_MILLI = 420_000


def corpus_curation(spark, sf_dir):
    """End-to-end training-data curation composing the pipeline's operators:
    keep a document iff it is its near-dup cluster's canonical (min-id)
    member AND quality >= the median cutoff AND predicted English. One
    row per doc with the decision inputs — the query a 100 TB curation job
    actually runs, under the exact-value gate."""
    d = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(d, MINHASH_T).select("a_id", "b_id")
    comps = dedup.connected_components(
        d.select("doc_id"), pairs, id_col="doc_id"
    ).select(F.col("id").alias("doc_id"), F.col("comp").alias("cluster_id"))
    scored = d.select(
        "doc_id",
        text_stats.quality_score_col(as_millionths=True).alias("quality_milli"),
        text_stats.lang_id_col().alias("pred_lang"),
    )
    return (
        scored.join(comps, "doc_id")
        .withColumn("is_canonical", F.col("doc_id") == F.col("cluster_id"))
        .withColumn(
            "keep",
            F.col("is_canonical")
            & (F.col("quality_milli") >= CURATION_QUALITY_MILLI)
            & (F.col("pred_lang") == "en"),
        )
        .select("doc_id", "cluster_id", "quality_milli", "pred_lang",
                "is_canonical", "keep")
        .orderBy("doc_id")
    )


CORPUS_CURATION_SQL = f"""
WITH RECURSIVE {{minhash_ctes}},
mpairs AS (
  SELECT a_id, b_id FROM verified
  WHERE inter::DOUBLE / (na + nb - inter) >= {MINHASH_T}
),
edges AS (
  SELECT a_id AS src, b_id AS dst FROM mpairs
  UNION ALL
  SELECT b_id, a_id FROM mpairs
),
reach(id, comp) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id
),
comps AS (SELECT id AS doc_id, min(comp) AS cluster_id FROM reach GROUP BY id),
t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
scored AS (
  SELECT doc_id,
         CAST(floor((
           least(len(toks)::DOUBLE / 100.0, 1.0) * 0.4
           + len(list_distinct(toks))::DOUBLE / len(toks) * 0.3
           + least(len(list_filter(toks, x -> list_contains({{stops}}, x)))::DOUBLE
                   / len(toks) * 3.0, 1.0) * 0.3
         ) * 1000000.0 + 0.5) AS BIGINT) AS quality_milli,
         CASE WHEN length(regexp_replace(text, '[^\\x00-\\x7F]', '', 'g'))::DOUBLE
                   / length(text) < 0.5 THEN 'non_latin'
              WHEN len(list_filter(toks, x -> list_contains({{stops}}, x)))::DOUBLE
                   / len(toks) >= 0.12 THEN 'en'
              ELSE 'other' END AS pred_lang
  FROM t
)
SELECT c.doc_id, c.cluster_id, s.quality_milli, s.pred_lang,
       c.doc_id = c.cluster_id AS is_canonical,
       (c.doc_id = c.cluster_id
        AND s.quality_milli >= {CURATION_QUALITY_MILLI}
        AND s.pred_lang = 'en') AS keep
FROM comps c JOIN scored s ON s.doc_id = c.doc_id
ORDER BY c.doc_id
"""
CORPUS_CURATION_SQL = CORPUS_CURATION_SQL.format(
    minhash_ctes=_MINHASH_CTES, stops=_STOPS_SQL)


def dedup_simhash(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", dedup.simhash_col("text", bits=16).alias("simhash")
    ).orderBy("doc_id")


_SIMHASH_CTES = """t AS (
  SELECT doc_id,
         list_transform(list_distinct(string_split(text, ' ')),
                        x -> ('0x' || substr(md5(x), 1, 4))::BIGINT) AS hs
  FROM documents
),
sig AS (
  SELECT doc_id AS id,
         list_aggregate(
           list_transform(range(0, 16),
             k -> CASE WHEN list_aggregate(
                         list_transform(hs,
                           h -> CASE WHEN (h >> k) & 1 = 1 THEN 1 ELSE -1 END),
                         'sum') > 0
                  THEN (1::BIGINT << k) ELSE 0 END),
           'sum')::BIGINT AS sh
  FROM t
)"""

DEDUP_SIMHASH_SQL = f"""
WITH {_SIMHASH_CTES}
SELECT id AS doc_id, sh AS simhash FROM sig ORDER BY doc_id
"""

MAX_HAMMING = 3


def dedup_simhash_pairs(spark, sf_dir):
    """SimHash neighbour pairs at the 64-bit PRODUCTION width: 4 bands of
    16 bits (exact recall for hamming <= 3 by pigeonhole) + one
    xor/bit_count verification. 64-bit banding is the selective form —
    random band collisions at ~1/65536 vs the 16-bit demo width whose
    4-bit nibbles degenerate toward all-pairs on same-vocabulary corpora
    (dedup_simhash keeps the 16-bit signature as the demo)."""
    d = _t(spark, sf_dir, "documents")
    p = dedup.simhash_pairs(d, MAX_HAMMING, bits=64)
    return p.select(
        "a_id", "b_id", "sha", "shb",
        F.col("hamming").cast("long").alias("hamming"),
    ).orderBy("a_id", "b_id")


def _simhash64_ctes() -> str:
    """DuckDB twin of simhash_col(bits=64): the token hash is two 32-bit
    md5 halves combined as HUGEINT (unsigned 64-bit pattern), bit k read
    with (h // 2^k) % 2 — division avoids engine-specific shift semantics
    on negative values; the signed BIGINT Spark emits is recovered by an
    explicit two's-complement wrap at the end."""
    def balance(k):
        return ("list_aggregate(list_transform(hs, h -> CASE WHEN "
                f"(h // {1 << k}) % 2 = 1 THEN 1 ELSE -1 END), 'sum')")

    sig_sum = "\n           + ".join(
        f"CASE WHEN {balance(k)} > 0 THEN {1 << k}::HUGEINT "
        "ELSE 0::HUGEINT END"
        for k in range(64)
    )
    return f"""t64 AS (
  SELECT doc_id,
         list_transform(list_distinct(string_split(text, ' ')),
           x -> ('0x' || substr(md5(x), 1, 8))::BIGINT::HUGEINT * 4294967296
                + ('0x' || substr(md5(x), 9, 8))::BIGINT::HUGEINT) AS hs
  FROM documents
),
sigu AS (
  SELECT doc_id AS id,
         ({sig_sum}) AS u
  FROM t64
),
sig64 AS (
  SELECT id, u,
         (CASE WHEN u >= 9223372036854775808::HUGEINT
               THEN u - 18446744073709551616::HUGEINT
               ELSE u END)::BIGINT AS sh
  FROM sigu
)"""


DEDUP_SIMHASH_PAIRS_SQL = f"""
WITH {_simhash64_ctes()},
lng AS (
  SELECT id,
         unnest([0, 1, 2, 3]) AS band_idx,
         unnest([(u % 65536)::BIGINT,
                 ((u // 65536) % 65536)::BIGINT,
                 ((u // 4294967296) % 65536)::BIGINT,
                 ((u // 281474976710656) % 65536)::BIGINT]) AS band_key
  FROM sig64
),
cand AS (
  SELECT DISTINCT a.id AS a_id, b.id AS b_id
  FROM lng a JOIN lng b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.id < b.id
),
v AS (
  SELECT c.a_id, c.b_id, sa.sh AS sha, sb.sh AS shb,
         CAST(bit_count(xor(sa.sh, sb.sh)) AS BIGINT) AS hamming
  FROM cand c JOIN sig64 sa ON sa.id = c.a_id JOIN sig64 sb ON sb.id = c.b_id
)
SELECT a_id, b_id, sha, shb, hamming FROM v
WHERE hamming <= {MAX_HAMMING} ORDER BY a_id, b_id
"""


EMB_LSH_T = 0.25
EMB_LSH_BITS = 16
EMB_LSH_BANDS = 4
EMB_DIM = 64


def dedup_embedding_lsh(spark, sf_dir):
    """Embedding-cosine near-dup via random-hyperplane LSH (Charikar):
    md5-derived integer hyperplanes make the signatures engine-exact, so
    the banded candidate set AND the exact-cosine verification both have a
    DuckDB twin."""
    e = _t(spark, sf_dir, "embeddings")
    p = dedup.embedding_lsh_pairs(e, EMB_LSH_T, bits=EMB_LSH_BITS,
                                  bands=EMB_LSH_BANDS, dim=EMB_DIM)
    return p.orderBy("a_id", "b_id")


def _emb_lsh_sql() -> str:
    from .functions.dedup import lsh_hyperplanes
    planes = lsh_hyperplanes(EMB_DIM, EMB_LSH_BITS)
    r = EMB_LSH_BITS // EMB_LSH_BANDS

    def dot_plane(plane):
        lit = "[" + ", ".join(str(x) for x in plane) + "]"
        return (f"list_aggregate(list_transform(range(1, {EMB_DIM}+1), "
                f"i -> v[i]::DOUBLE * ({lit})[i]), 'sum')")

    bit_exprs = ",\n         ".join(
        f"CASE WHEN {dot_plane(p)} > 0 THEN 1 ELSE 0 END AS b{k}"
        for k, p in enumerate(planes)
    )
    band_exprs = ", ".join(
        "concat(" + ", ".join(f"b{b * r + j}::VARCHAR" for j in range(r))
        + f") AS band{b}"
        for b in range(EMB_LSH_BANDS)
    )
    band_list = ", ".join(f"band{b}" for b in range(EMB_LSH_BANDS))
    idx_list = ", ".join(str(b) for b in range(EMB_LSH_BANDS))
    t_milli = int(EMB_LSH_T * 1_000_000)
    return f"""
WITH v AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
sig AS (
  SELECT id,
         {bit_exprs}
  FROM v
),
banded AS (SELECT id, {band_exprs} FROM sig),
lng AS (
  SELECT id, unnest([{idx_list}]) AS band_idx,
         unnest([{band_list}]) AS band_key
  FROM banded
),
cand AS (
  SELECT DISTINCT a.id AS a_id, b.id AS b_id
  FROM lng a JOIN lng b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.id < b.id
),
verified AS (
  SELECT c.a_id, c.b_id, {_smilli_sql("va.v", "vb.v")} AS score_milli
  FROM cand c JOIN v va ON va.id = c.a_id JOIN v vb ON vb.id = c.b_id
)
SELECT a_id, b_id, score_milli FROM verified
WHERE score_milli >= {t_milli} ORDER BY a_id, b_id"""


# ---------------------------------------------------------------------------
# Similarity search (embeddings)
# ---------------------------------------------------------------------------

N_QUERIES = 20
TOP_K = 3


def sim_cosine_topk(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < N_QUERIES)
    return similarity.cosine_topk(e, q, k=TOP_K).orderBy("query_id", "rnk")


SIM_TOPK_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id < {N_QUERIES}),
v AS (SELECT vec_id AS neighbor_id, embedding AS nv FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id,
         CAST(floor(
           list_aggregate(list_transform(range(1, len(qv)+1),
             i -> qv[i]::DOUBLE * nv[i]::DOUBLE), 'sum')
           / (sqrt(list_aggregate(list_transform(range(1, len(qv)+1),
                i -> qv[i]::DOUBLE * qv[i]::DOUBLE), 'sum'))
              * sqrt(list_aggregate(list_transform(range(1, len(nv)+1),
                i -> nv[i]::DOUBLE * nv[i]::DOUBLE), 'sum')))
           * 1000000.0 + 0.5) AS BIGINT) AS score_milli
  FROM v CROSS JOIN q WHERE neighbor_id <> query_id
),
ranked AS (
  SELECT query_id, neighbor_id, score_milli,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score_milli DESC, neighbor_id ASC) AS rnk
  FROM scored
)
SELECT query_id, neighbor_id, rnk, score_milli FROM ranked
WHERE rnk <= {TOP_K} ORDER BY query_id, rnk
"""


def sim_ann_ivf(spark, sf_dir):
    """IVF scale path over the label clustering. Exactly oracled: centroids
    are integer-millionth means (order-free exact sums + one IEEE double
    division), probe and fine ranks compare integer millionths."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < N_QUERIES)
    return similarity.ivf_topk(e, q, k=TOP_K, nprobe=2).orderBy("query_id", "rnk")


# --- engine-portable SQL fragments for the IVF/k-means oracles -------------

def _dot_sql(a: str, b: str) -> str:
    return (f"list_aggregate(list_transform(range(1, len({a})+1), "
            f"i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE), 'sum')")


def _smilli_sql(a: str, b: str) -> str:
    return ("CAST(floor(" + _dot_sql(a, b)
            + f" / (sqrt({_dot_sql(a, a)}) * sqrt({_dot_sql(b, b)}))"
            + " * 1000000.0 + 0.5) AS BIGINT)")


def _milli_cent_sql(src: str) -> str:
    """(cluster, nv) rows -> (cluster, centroid): integer-millionth means,
    mirroring similarity._milli_centroids bit-for-bit."""
    return f"""
  SELECT cluster, list(c ORDER BY dim) AS centroid FROM (
    SELECT cluster, u.dim AS dim, sum(u.vm)::DOUBLE / count(*) AS c
    FROM (SELECT cluster, unnest(list_transform(range(1, len(nv)+1),
            d -> struct_pack(dim := d,
                 vm := floor(nv[d]::DOUBLE * 1000000.0 + 0.5)::BIGINT))) AS u
          FROM ({src})) GROUP BY cluster, u.dim) GROUP BY cluster"""


def _ivf_search_sql(v_name: str, cent_name: str, nprobe: int, topk: int) -> str:
    """Probe nprobe centroids per query, fine-search inside those clusters;
    mirrors similarity._ivf_search."""
    return f"""
q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
      WHERE vec_id < {N_QUERIES}),
probes AS (
  SELECT query_id, qv, cluster FROM (
    SELECT q.query_id, q.qv, c.cluster,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY {_smilli_sql("q.qv", "c.centroid")} DESC,
                                       c.cluster ASC) AS prank
    FROM q CROSS JOIN {cent_name} c) WHERE prank <= {nprobe}
),
fine AS (
  SELECT p.query_id, v.neighbor_id, {_smilli_sql("p.qv", "v.nv")} AS score_milli
  FROM probes p JOIN {v_name} v ON v.cluster = p.cluster
  WHERE v.neighbor_id <> p.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, score_milli,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score_milli DESC, neighbor_id ASC) AS rnk
  FROM fine)
SELECT query_id, neighbor_id, rnk, score_milli FROM ranked
WHERE rnk <= {topk} ORDER BY query_id, rnk"""


SIM_ANN_IVF_SQL = (
    "WITH vv AS (SELECT vec_id AS neighbor_id, embedding AS nv, "
    "label AS cluster FROM embeddings),\n"
    "cent AS (" + _milli_cent_sql(
        "SELECT label AS cluster, embedding AS nv FROM embeddings") + "),\n"
    + _ivf_search_sql("vv", "cent", nprobe=2, topk=TOP_K)
)


KMEANS_K = 8
KMEANS_ITERS = 2


def _kmeans_ctes(k: int, iters: int,
                 src: str = "SELECT vec_id, embedding FROM embeddings") -> str:
    """Unrolled deterministic Lloyd's as chained CTEs, mirroring
    similarity.kmeans_fit: c0 = k lowest-id vectors; a{i} assigns against
    c{i-1} (cosine-milli argmax, ties to lowest cluster); c{i} is the
    milli-mean of a{i} with the previous centroid kept for empty clusters.
    ``src`` is the (vec_id, embedding) input relation — the embeddings
    table by default, an augmented union for the SemDeDup oracle."""
    ctes = [
        f"v AS (SELECT vec_id, embedding AS nv FROM ({src}))",
        f"""c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster,
         list_transform(nv, x -> x::DOUBLE) AS centroid
  FROM (SELECT vec_id, nv FROM v ORDER BY vec_id LIMIT {k}))""",
    ]
    for i in range(1, iters + 1):
        ctes.append(f"""a{i} AS (
  SELECT vec_id, nv, cluster FROM (
    SELECT v.vec_id, v.nv, c.cluster,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {_smilli_sql("v.nv", "c.centroid")} DESC,
                                       c.cluster ASC) AS r
    FROM v CROSS JOIN c{i - 1} c) WHERE r = 1)""")
        ctes.append(f"""c{i} AS (
  SELECT p.cluster, coalesce(n.centroid, p.centroid) AS centroid
  FROM c{i - 1} p LEFT JOIN ({_milli_cent_sql(f"SELECT cluster, nv FROM a{i}")}) n
    ON n.cluster = p.cluster)""")
    return ",\n".join(ctes)


def sim_kmeans_assign(spark, sf_dir):
    """Deterministic Lloyd's k-means (k=8, 2 iterations, lowest-id init) on
    unlabeled embeddings — exact DuckDB oracle via integer-millionth
    centroid arithmetic (an iterative algorithm under the value-hash gate)."""
    e = _t(spark, sf_dir, "embeddings")
    assigned, _ = similarity.kmeans_fit(e, k=KMEANS_K, iters=KMEANS_ITERS)
    return assigned.select(
        "vec_id", F.col("cluster").cast("long").alias("cluster")
    ).orderBy("vec_id")


SIM_KMEANS_ASSIGN_SQL = (
    "WITH " + _kmeans_ctes(KMEANS_K, KMEANS_ITERS)
    + f"\nSELECT vec_id, CAST(cluster AS BIGINT) AS cluster FROM a{KMEANS_ITERS}"
    " ORDER BY vec_id"
)


def sim_ann_kmeans(spark, sf_dir):
    """IVF ANN over k-means-trained clusters (label_col=None): the operator
    works on unlabeled embeddings end-to-end, still exactly oracled."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < N_QUERIES)
    return similarity.ivf_topk(
        e, q, k=TOP_K, nprobe=2, label_col=None,
        k_clusters=KMEANS_K, iters=KMEANS_ITERS,
    ).orderBy("query_id", "rnk")


SIM_ANN_KMEANS_SQL = (
    "WITH " + _kmeans_ctes(KMEANS_K, KMEANS_ITERS) + ",\n"
    f"vv AS (SELECT vec_id AS neighbor_id, nv, cluster FROM a{KMEANS_ITERS}),\n"
    f"cent AS (SELECT cluster, centroid FROM c{KMEANS_ITERS}),\n"
    + _ivf_search_sql("vv", "cent", nprobe=2, topk=TOP_K)
)


PQ_M = 2
PQ_K = 4
PQ_ITERS = 2


def sim_pq(spark, sf_dir):
    """Product quantization end-to-end (similarity.pq_fit/pq_encode/
    pq_adc_topk, Jégou et al. 2011): integer-millionth squared-L2
    Lloyd's per subspace (deterministic: lowest-id init, argmin ties to
    the lowest cluster, truncating-division centroid means), scan-side
    literal-codebook encoding, and asymmetric-distance top-k where each
    query's m*k distance table rides a broadcast row and every
    candidate costs m lookups + a sum. The oracle unrolls BOTH
    subspaces' training rounds as chained CTEs, so the full
    train -> encode -> ADC pipeline sits hash-exact — an iterative
    vector-quantization TRAINING algorithm under the value gate."""
    e = _t(spark, sf_dir, "embeddings")
    books = similarity.pq_fit(e, EMB_DIM, m=PQ_M, k=PQ_K, iters=PQ_ITERS)
    q = e.filter(F.col("vec_id") < N_QUERIES)
    out = similarity.pq_adc_topk(e, q, books, EMB_DIM, k=TOP_K)
    return out.select(
        "query_id", "neighbor_id",
        F.col("rnk").cast("long").alias("rnk"),
        F.col("adist_milli2").cast("long").alias("adist_milli2"),
    ).orderBy("query_id", "rnk")


def sim_pq_codes(spark, sf_dir):
    """The code table itself (similarity.pq_encode): every vector's
    per-subspace nearest-centroid assignment against the trained
    codebook — the artifact a 100 TB deployment stores instead of raw
    vectors. Zero-shuffle scan projection (codebook rides as
    literals); feeds sim_pq's gated ADC search verbatim."""
    e = _t(spark, sf_dir, "embeddings")
    books = similarity.pq_fit(e, EMB_DIM, m=PQ_M, k=PQ_K, iters=PQ_ITERS)
    out = similarity.pq_encode(e, books, EMB_DIM)
    return out.select(
        "vec_id",
        *[F.col(f"code{j}").cast("long").alias(f"code{j}")
          for j in range(PQ_M)]).orderBy("vec_id")


def _pq_l2_sql(a: str, b: str, sub: int) -> str:
    return (f"list_aggregate(list_transform(range(1, {sub} + 1), "
            f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), 'sum')")


def _pq_ctes(m: int, k: int, iters: int, dim: int,
             src: str = "SELECT vec_id, embedding FROM embeddings") -> str:
    """Unrolled per-subspace integer-L2 Lloyd's mirroring
    similarity.pq_fit: quantize once to integer millionths (the FLOAT32
    value widened to double, exactly Spark's cast chain), init from the
    k lowest-id subvectors, assignment argmin with ties to the lowest
    cluster, centroid update = per-dim integer sum with ONE truncating
    division (DuckDB's // and Spark's div both truncate toward zero —
    the driver mirrors that, NOT Python floor //), empty clusters keep
    their centroid. ``pe{j}``/``enc`` encode against the FINAL
    codebooks."""
    sub = dim // m
    ctes = [
        f"""pv AS (
  SELECT vec_id, list_transform(embedding,
           x -> floor(x::DOUBLE * 1000000 + 0.5)::BIGINT) AS q
  FROM ({src}))""",
        "psv AS (SELECT vec_id, "
        + ", ".join(f"q[{j * sub + 1}:{(j + 1) * sub}] AS s{j}"
                    for j in range(m))
        + " FROM pv)",
    ]
    for j in range(m):
        ctes.append(f"""pc{j}_0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster,
         s{j} AS centroid
  FROM (SELECT vec_id, s{j} FROM psv ORDER BY vec_id LIMIT {k}))""")
        for t in range(1, iters + 1):
            l2 = _pq_l2_sql(f"v.s{j}", "c.centroid", sub)
            ctes.append(f"""pa{j}_{t} AS (
  SELECT vec_id, sv, cluster FROM (
    SELECT v.vec_id, v.s{j} AS sv, c.cluster,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {l2} ASC, c.cluster ASC) AS r
    FROM psv v CROSS JOIN pc{j}_{t - 1} c) WHERE r = 1)""")
            ctes.append(f"""pn{j}_{t} AS (
  SELECT cluster, i, (sum(sv[i]) // count(*))::BIGINT AS ci
  FROM pa{j}_{t}, unnest(range(1, {sub} + 1)) AS u(i)
  GROUP BY cluster, i)""")
            ctes.append(f"""pc{j}_{t} AS (
  SELECT p.cluster, coalesce(n.centroid, p.centroid) AS centroid
  FROM pc{j}_{t - 1} p LEFT JOIN (
    SELECT cluster, list(ci ORDER BY i) AS centroid
    FROM pn{j}_{t} GROUP BY cluster) n ON n.cluster = p.cluster)""")
        l2f = _pq_l2_sql(f"v.s{j}", "c.centroid", sub)
        ctes.append(f"""pe{j} AS (
  SELECT vec_id, cluster AS code{j} FROM (
    SELECT v.vec_id, c.cluster,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {l2f} ASC, c.cluster ASC) AS r
    FROM psv v CROSS JOIN pc{j}_{iters} c) WHERE r = 1)""")
    enc_joins = " JOIN ".join(
        [f"pe0"] + [f"pe{j} USING (vec_id)" for j in range(1, m)])
    ctes.append("enc AS (SELECT vec_id, "
                + ", ".join(f"code{j}" for j in range(m))
                + f" FROM {enc_joins})")
    return ",\n".join(ctes)


def _pq_search_sql(m: int, k: int, iters: int, dim: int) -> str:
    sub = dim // m
    dist_terms = " + ".join(
        _pq_l2_sql(f"q.s{j}", f"cc{j}.centroid", sub) for j in range(m))
    cent_joins = " ".join(
        f"JOIN pc{j}_{iters} cc{j} ON cc{j}.cluster = e.code{j}"
        for j in range(m))
    return f"""adc AS (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         ({dist_terms})::BIGINT AS adist_milli2
  FROM enc e {cent_joins}
  CROSS JOIN (SELECT * FROM psv WHERE vec_id < {N_QUERIES}) q
  WHERE e.vec_id <> q.vec_id),
ranked AS (
  SELECT query_id, neighbor_id, adist_milli2,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adist_milli2 ASC, neighbor_id ASC)
           AS rnk
  FROM adc)
SELECT query_id, neighbor_id, rnk::BIGINT AS rnk, adist_milli2
FROM ranked WHERE rnk <= {TOP_K} ORDER BY query_id, rnk"""


SIM_PQ_SQL = ("WITH " + _pq_ctes(PQ_M, PQ_K, PQ_ITERS, EMB_DIM)
              + ",\n" + _pq_search_sql(PQ_M, PQ_K, PQ_ITERS, EMB_DIM))

SIM_PQ_CODES_SQL = (
    "WITH " + _pq_ctes(PQ_M, PQ_K, PQ_ITERS, EMB_DIM)
    + "\nSELECT vec_id, "
    + ", ".join(f"code{j}::BIGINT AS code{j}" for j in range(PQ_M))
    + " FROM enc ORDER BY vec_id")


# SemDeDup duplicate arms: the synthetic embeddings have no natural
# near-dups (max pairwise cosine ~0.51), so the query plants them the way
# dedup_incremental plants its new-batch rows — +1000000 ids get dim-0
# bumped by +0.5 (cosine 0.88-0.91 against unit-norm sources), +2000000
# ids are exact copies (cosine 1.0). tau=0.8 then sits between the
# planted dups and the densest natural pair with a wide margin on both
# sides.
SEMDEDUP_TAU = 800000
# Enforced k ∝ N sizing (the paper assumes it; dedup.semantic_dedup's
# max_cluster_size makes it structural): ~530 vectors / k=8 averages 66
# per cluster, so 40 genuinely splits clusters at sf0.01 — the capped
# rank-slice path is exercised UNDER the hash gate, not just in pytest.
SEMDEDUP_MAX_CLUSTER = 40


def _semdedup_input(e):
    near = e.filter(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.concat(
            F.array((F.element_at("embedding", 1) + F.lit(0.5))
                    .cast("float")),
            F.slice("embedding", 2, EMB_DIM - 1),
        ).alias("embedding"),
    )
    exact = e.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 2000000).alias("vec_id"), "embedding")
    return (e.select("vec_id", "embedding")
            .unionByName(near).unionByName(exact))


def sim_semdedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023) over the embeddings table plus planted
    exact/near duplicate arms: k-means clustering, then within-cluster
    cosine pruning with the paper's keep-low-centroid-similarity exemplar
    rule — iterative k-means AND the dedup sweep both under the value-hash
    gate via integer-millionth arithmetic."""
    e = _t(spark, sf_dir, "embeddings")
    return dedup.semantic_dedup(
        _semdedup_input(e), SEMDEDUP_TAU,
        k=KMEANS_K, iters=KMEANS_ITERS,
        max_cluster_size=SEMDEDUP_MAX_CLUSTER,
    ).orderBy("vec_id")


_SEMDEDUP_SRC = "SELECT vec_id, embedding FROM aug"

SIM_SEMDEDUP_SQL = (
    f"""WITH aug AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id,
         [(embedding[1] + 0.5)::FLOAT] || embedding[2:{EMB_DIM}] AS embedding
  FROM embeddings WHERE vec_id % 25 = 0
  UNION ALL
  SELECT vec_id + 2000000 AS vec_id, embedding
  FROM embeddings WHERE vec_id % 50 = 0
),
"""
    + _kmeans_ctes(KMEANS_K, KMEANS_ITERS, src=_SEMDEDUP_SRC) + ",\n"
    + f"""scored AS (
  SELECT a.vec_id, a.nv, a.cluster,
         {_smilli_sql("a.nv", "c.centroid")} AS cent_milli
  FROM a{KMEANS_ITERS} a JOIN c{KMEANS_ITERS} c ON a.cluster = c.cluster),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY cluster
                               ORDER BY cent_milli ASC, vec_id ASC) AS rnk
  FROM scored),
-- max_cluster_size cap: rank-contiguous slices of at most
-- {SEMDEDUP_MAX_CLUSTER}; pairs only form within a slice
sliced AS (
  SELECT *, (rnk - 1) // {SEMDEDUP_MAX_CLUSTER} AS sub FROM ranked),
pairs AS (
  SELECT vec_id, b_id, pm FROM (
    SELECT x.vec_id, y.vec_id AS b_id,
           {_smilli_sql("x.nv", "y.nv")} AS pm
    FROM sliced x JOIN sliced y
      ON x.cluster = y.cluster AND x.sub = y.sub AND y.rnk < x.rnk)
  WHERE pm >= {SEMDEDUP_TAU}),
best AS (
  SELECT vec_id, b_id AS dup_of, pm AS dup_milli FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY pm DESC, b_id ASC) AS rn
    FROM pairs) WHERE rn = 1)
SELECT r.vec_id, CAST(r.cluster AS BIGINT) AS cluster, r.cent_milli,
       (b.dup_of IS NULL) AS keep,
       coalesce(b.dup_of, CAST(-1 AS BIGINT)) AS dup_of,
       coalesce(b.dup_milli, CAST(0 AS BIGINT)) AS dup_milli
FROM ranked r LEFT JOIN best b ON b.vec_id = r.vec_id
ORDER BY r.vec_id"""
)


# ---------------------------------------------------------------------------
# Extraction semantics expressed relationally (S5/A7/A8/E10)
# ---------------------------------------------------------------------------

_EXTS = ["report.txt", "dump.tar.gz", "ARCH.TGZ", "Paper.PDF", "noext",
         "data.tar.bz2", "script.py", "deck.pptx"]


def _fname_col():
    c = F.pmod(F.col("doc_id"), F.lit(len(_EXTS)))
    expr = F.lit(_EXTS[0])
    for i, e in enumerate(_EXTS[1:], 1):
        expr = F.when(c == i, F.lit(e)).otherwise(expr)
    return F.concat(F.lit("doc_"), F.col("doc_id").cast("string"), F.lit("_"), expr)


def ext_extension_infer(spark, sf_dir):
    """S5 get_file_extension (app/utils.py:55-69) as column logic."""
    d = _t(spark, sf_dir, "documents").withColumn("filename", _fname_col())
    low = F.lower("filename")
    ext = (
        F.when(low.endswith(".tar.gz") | low.endswith(".tgz"), "tar.gz")
        .when(low.endswith(".tar.bz2") | low.endswith(".tbz2"), "tar.bz2")
        .when(low.endswith(".tar.xz") | low.endswith(".txz"), "tar.xz")
        .when(~F.col("filename").contains("."), None)
        .otherwise(F.element_at(F.split(low, "\\."), -1))
    )
    return d.select("doc_id", "filename", ext.alias("extension")).orderBy("doc_id")


_FNAME_SQL = (
    "concat('doc_', doc_id::VARCHAR, '_', CASE (doc_id % 8) "
    + " ".join(f"WHEN {i} THEN '{e}'" for i, e in enumerate(_EXTS))
    + " END)"
)

EXT_EXTENSION_SQL = f"""
WITH f AS (SELECT doc_id, {_FNAME_SQL} AS filename FROM documents)
SELECT doc_id, filename,
       CASE WHEN ends_with(lower(filename), '.tar.gz')
              OR ends_with(lower(filename), '.tgz') THEN 'tar.gz'
            WHEN ends_with(lower(filename), '.tar.bz2')
              OR ends_with(lower(filename), '.tbz2') THEN 'tar.bz2'
            WHEN ends_with(lower(filename), '.tar.xz')
              OR ends_with(lower(filename), '.txz') THEN 'tar.xz'
            WHEN NOT contains(filename, '.') THEN NULL
            ELSE list_extract(string_split(lower(filename), '.'), -1)
       END AS extension
FROM f ORDER BY doc_id
"""


def ext_sanitize_paths(spark, sf_dir):
    """A7 sanitation chain (app/extractors.py:1996-2014) as regexp ops."""
    from .pipeline import _sanitize_path_col
    d = _t(spark, sf_dir, "documents")
    dirty = F.concat(F.lit("../"), F.col("source"), F.lit("\\sub/./"),
                     F.col("doc_id").cast("string"), F.lit(".txt"))
    return d.select(
        "doc_id", dirty.alias("dirty"), _sanitize_path_col(dirty).alias("clean")
    ).orderBy("doc_id")


EXT_SANITIZE_SQL = r"""
WITH f AS (
  SELECT doc_id,
         concat('../', source, '\sub/./', doc_id::VARCHAR, '.txt') AS dirty
  FROM documents
), s AS (
  SELECT doc_id, dirty,
         regexp_replace(
           regexp_replace(replace(replace(dirty, '..', ''), '\', '/'),
                          '^/+', '', 'g'),
           '/+$', '', 'g') AS p
  FROM f
)
SELECT doc_id, dirty,
       array_to_string(list_filter(string_split(p, '/'),
                                   x -> x <> '' AND x <> '.'), '/') AS clean
FROM s ORDER BY doc_id
"""


def ext_system_file_filter(spark, sf_dir):
    """A8 system-file blacklist (app/extractors.py:2016-2035)."""
    from .pipeline import _is_system_file_col
    d = _t(spark, sf_dir, "documents")
    path = (
        F.when(F.pmod("doc_id", F.lit(5)) == 0,
               F.concat(F.lit("__MACOSX/"), F.col("source"), F.lit(".txt")))
        .when(F.pmod("doc_id", F.lit(5)) == 1,
              F.concat(F.col("source"), F.lit("/.DS_Store")))
        .otherwise(F.concat(F.col("source"), F.lit("/"),
                            F.col("doc_id").cast("string"), F.lit(".txt")))
    )
    return (
        d.select("doc_id", path.alias("path"))
        .filter(~_is_system_file_col(F.col("path")))
        .orderBy("doc_id")
    )


_MARKERS_SQL = " OR ".join(
    f"contains(lower(path), '{m}')" for m in
    [".ds_store", "thumbs.db", ".git/", ".svn/", ".hg/", "__macosx/",
     ".localized", "desktop.ini", "folder.ini"]
)

EXT_SYSFILE_SQL = f"""
WITH f AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN concat('__MACOSX/', source, '.txt')
              WHEN doc_id % 5 = 1 THEN concat(source, '/.DS_Store')
              ELSE concat(source, '/', doc_id::VARCHAR, '.txt') END AS path
  FROM documents
)
SELECT doc_id, path FROM f WHERE NOT ({_MARKERS_SQL}) ORDER BY doc_id
"""


def ext_base64_source(spark, sf_dir):
    """S2 base64 source (app/main.py:369-513): payloads arrive base64-
    encoded; decode is the built-in unbase64 column op — no Python."""
    d = _t(spark, sf_dir, "documents")
    # NB Spark's base64() MIME-wraps at 76 chars (Java Base64.Mime);
    # unbase64 tolerates the wrapping, so compare the decoded payload.
    encoded = F.base64(F.encode("text", "utf-8"))
    return d.select(
        "doc_id",
        F.decode(F.unbase64(encoded), "utf-8").alias("decoded"),
        F.length("text").alias("n_chars"),
    ).orderBy("doc_id")


EXT_BASE64_SQL = """
SELECT doc_id,
       decode(from_base64(to_base64(encode(text)))) AS decoded,
       length(text) AS n_chars
FROM documents ORDER BY doc_id
"""


def ext_source_header(spark, sf_dir):
    """E10 header formatting (app/extractors.py:889-903) as column logic."""
    d = _t(spark, sf_dir, "documents")
    fname = F.concat(F.lit("doc_"), F.col("doc_id").cast("string"), F.lit(".py"))
    n_lines = F.size(F.split("text", "\n"))
    header = F.concat(
        F.lit("=== Python File: "), fname, F.lit(" ===\nLines: "),
        n_lines.cast("string"), F.lit("\n"),
        F.when(n_lines > 1000,
               F.concat(F.lit("Warning: Large file with "),
                        n_lines.cast("string"), F.lit(" lines\n"))
               ).otherwise(F.lit("")),
    )
    return d.select(
        "doc_id", (F.concat(header, F.lit("=" * 50 + "\n"), F.col("text")))
        .alias("extracted")
    ).orderBy("doc_id")


EXT_SOURCE_SQL = """
WITH f AS (
  SELECT doc_id, text,
         len(string_split(text, chr(10))) AS n_lines,
         concat('doc_', doc_id::VARCHAR, '.py') AS fname
  FROM documents
)
SELECT doc_id,
       concat('=== Python File: ', fname, ' ===', chr(10),
              'Lines: ', n_lines::VARCHAR, chr(10),
              CASE WHEN n_lines > 1000
                   THEN concat('Warning: Large file with ', n_lines::VARCHAR,
                               ' lines', chr(10))
                   ELSE '' END,
              repeat('=', 50), chr(10), text) AS extracted
FROM f ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Extraction pipeline end-to-end (Python kernel) with closed-form oracles
# ---------------------------------------------------------------------------

def _docs_as_span_table(spark, sf_dir) -> DataFrame:
    """Span-ify driver documents: one plain payload span (+ a media span on
    every doc_id % 3 == 0) — interleaved text+media, closed-form expected."""
    from .pipeline import SPAN_TYPE
    d = _t(spark, sf_dir, "documents")
    media = F.struct(
        F.lit("media").alias("kind"), F.lit(None).cast("string").alias("text"),
        F.concat(F.lit("m://"), F.col("doc_id").cast("string"), F.lit("/1"))
        .alias("media_ref"),
        F.lit(1).alias("offset"),
    )
    plain = F.struct(
        F.lit("plain").alias("kind"), F.col("text").alias("text"),
        F.lit(None).cast("string").alias("media_ref"), F.lit(0).alias("offset"),
    )
    spans = F.when(F.pmod("doc_id", F.lit(3)) == 0,
                   F.array(plain, media)).otherwise(F.array(plain))
    return d.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        spans.cast(f"array<{SPAN_TYPE.simpleString()}>").alias("spans"),
    )


def extract_flagship(spark, sf_dir):
    """Full pipeline over span-ified driver docs. ASCII plain payloads are
    identity under the E9 chain, so the oracle is closed-form."""
    from .pipeline import extract_spans_df
    out = extract_spans_df(_docs_as_span_table(spark, sf_dir),
                           salt_partitions=None)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"), "status", "n_spans",
        "n_chars",
        F.element_at("spans", 1).getField("text").alias("first_text"),
    )


EXTRACT_FLAGSHIP_SQL = """
SELECT doc_id, 'ok' AS status,
       CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END AS n_spans,
       length(text) AS n_chars,
       text AS first_text
FROM documents ORDER BY doc_id
"""


def extract_multi_format(spark, sf_dir):
    """Eight kernels (E9/E11/E13/E14/E15 + E6 csv/E16 yaml/E17 rtf)
    through the REAL distributed pipeline under the DuckDB gate: each
    doc's payload kind is chosen by doc_id %% 8 and wraps the known text
    so the expected extraction is closed-form (word-soup text has no
    markup/quotes/commas/double spaces)."""
    from .pipeline import SPAN_TYPE, extract_spans_df
    d = _t(spark, sf_dir, "documents")
    m = F.pmod("doc_id", F.lit(8))
    kind = (F.when(m == 0, "plain").when(m == 1, "html")
            .when(m == 2, "markdown").when(m == 3, "json")
            .when(m == 4, "xml").when(m == 5, "csv")
            .when(m == 6, "yaml").otherwise("rtf"))
    payload = (
        F.when(m == 0, F.col("text"))
        .when(m == 1, F.concat(
            F.lit("<html><head><script>var x=1;</script></head><body>\n<p>"),
            F.col("text"), F.lit("</p>\n</body></html>")))
        .when(m == 2, F.concat(F.lit("# Doc Title\n\n"), F.col("text")))
        .when(m == 3, F.to_json(F.struct(F.col("text").alias("body"))))
        .when(m == 4, F.concat(F.lit("<root><body>"), F.col("text"),
                               F.lit("</body></root>")))
        .when(m == 5, F.concat(F.lit("c1,c2\n"), F.col("text"),
                               F.lit(",42\n")))
        .when(m == 6, F.concat(F.lit("title: Doc\nbody: "), F.col("text"),
                               F.lit("\nnum: 7\n")))
        .otherwise(F.concat(F.lit("{\\rtf1\\ansi {\\b Intro} "),
                            F.col("text"), F.lit(" \\par}")))
    )
    spans = F.array(F.struct(
        kind.alias("kind"), payload.alias("text"),
        F.lit(None).cast("string").alias("media_ref"), F.lit(0).alias("offset"),
    ))
    docs = d.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        spans.cast(f"array<{SPAN_TYPE.simpleString()}>").alias("spans"),
    )
    out = extract_spans_df(docs)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"), "status", "n_spans",
        F.element_at("spans", 1).getField("text").alias("extracted"),
    )


EXTRACT_MULTI_SQL = """
SELECT doc_id, 'ok' AS status, 1 AS n_spans,
       CASE doc_id % 8
         WHEN 0 THEN text
         WHEN 1 THEN text
         WHEN 2 THEN 'Doc Title' || chr(10) || text
         WHEN 3 THEN 'body: ' || text
         WHEN 4 THEN 'root.body: ' || text
         WHEN 5 THEN 'c1,c2' || chr(10) || text || ',42' || chr(10)
         WHEN 6 THEN 'title: Doc' || chr(10) || 'body: ' || text
         ELSE 'Intro ' || text
       END AS extracted
FROM documents ORDER BY doc_id
"""


def ext_html_strip(spark, sf_dir):
    """E11 file-mode strip through the real Python kernel; synthesized HTML
    wraps the known text so the expected output is the text itself."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.lit("<html><head><script>var x=1;</script></head><body>\n<p>"),
                 F.col("text"), F.lit("</p>\n</body></html>")).alias("html"),
    )

    def kernel(batches: Iterator) -> Iterator:
        import pandas as pd
        from .extractors.html import strip_html
        for b in batches:
            yield pd.DataFrame({
                "doc_id": b["doc_id"],
                "extracted": [strip_html(h, "file") for h in b["html"]],
            })

    schema = StructType([StructField("doc_id", LongType()),
                         StructField("extracted", StringType())])
    return d.mapInPandas(kernel, schema=schema)


EXT_HTML_STRIP_SQL = """
SELECT doc_id, text AS extracted FROM documents ORDER BY doc_id
"""


_MC_GOOD = ("The report shows that the data pipeline is running well and "
            "the team is happy with the results of this quarter as a whole "
            "overall. Case ")                     # + doc_id + " closes."


def ext_main_content(spark, sf_dir):
    """The north star's named centerpiece (BASELINE.json: "text-density +
    link-density DOM heuristics") through the REAL distributed pipeline:
    span kind ``html_main`` routes to html.extract_main_content. Every
    page carries nav/footer chrome, a link-farm div holding the doc's own
    text (link density 1.0 -> always dropped, so the oracle never depends
    on the word-soup text), and a dense GOOD paragraph whose stopword
    density is constant across doc_ids; doc_id %% 4 exercises (0) heading
    promoted next to good content, (1) short block sandwiched between two
    good paragraphs, (2) short shouty chrome dropped on both sides of the
    article, (3) a link-heavy heading NOT promoted (ld > 0.2 gate)."""
    from .pipeline import SPAN_TYPE, extract_spans_df
    d = _t(spark, sf_dir, "documents")
    m = F.pmod("doc_id", F.lit(4))
    did = F.col("doc_id").cast("string")
    g = F.concat(F.lit(_MC_GOOD), did, F.lit(" closes."))
    body = (
        F.when(m == 0, F.concat(F.lit("<h2>Section "), did, F.lit("</h2><p>"),
                                g, F.lit("</p>")))
        .when(m == 1, F.concat(F.lit("<p>"), g,
                               F.lit("</p><p>Key takeaway here</p><p>"),
                               g, F.lit("</p>")))
        .when(m == 2, F.concat(F.lit("<div>SUBSCRIBE NOW</div><p>"), g,
                               F.lit("</p><div>Cookie settings</div>")))
        .otherwise(F.concat(F.lit("<p>"), g,
                            F.lit('</p><h2><a href="/x">All stories</a></h2>')))
    )
    payload = F.concat(
        F.lit('<html><body><nav><a href="/">Home</a> '
              '<a href="/a">About</a></nav>'),
        body,
        F.lit('<div><a href="/r">'), F.substring("text", 1, 60),
        F.lit("</a></div><footer>Copyright 2024 Site</footer></body></html>"))
    spans = F.array(F.struct(
        F.lit("html_main").alias("kind"), payload.alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
        F.lit(0).alias("offset"),
    ))
    docs = d.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        spans.cast(f"array<{SPAN_TYPE.simpleString()}>").alias("spans"),
    )
    out = extract_spans_df(docs)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"), "status",
        F.element_at("spans", 1).getField("text").alias("extracted"),
    )


EXT_MAIN_CONTENT_SQL = f"""
WITH g AS (
  SELECT doc_id,
         '{_MC_GOOD}' || doc_id::VARCHAR || ' closes.' AS good
  FROM documents
)
SELECT doc_id, 'ok' AS status,
       CASE doc_id % 4
         WHEN 0 THEN 'Section ' || doc_id::VARCHAR || chr(10) || good
         WHEN 1 THEN good || chr(10) || 'Key takeaway here' || chr(10) || good
         ELSE good
       END AS extracted
FROM g ORDER BY doc_id
"""


def mm_media_features(spark, sf_dir):
    """Multimodal plumbing: text bytes as opaque binary payloads -> Arrow
    feature kernel. md5(utf8 bytes) == md5(text) gives the SQL oracle —
    which requires the RAW text as payload, so this arm assumes the gate
    corpus text never starts with an image magic signature (it is
    lowercase vocab words; the NUL-prefix trick used by mm_resize /
    mm_decode_headers would break the md5 identity)."""
    from .functions.multimodal import extract_media_features
    d = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("m://"), F.col("doc_id").cast("string"), F.lit("/0"))
        .alias("media_ref"),
        F.encode("text", "utf-8").alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
        F.lit(100).alias("width"), F.lit(100).alias("height"),
    )
    return extract_media_features(d)


MM_MEDIA_SQL = """
SELECT concat('m://', doc_id::VARCHAR, '/0') AS media_ref,
       'stubbed' AS status,
       length(text)::BIGINT AS n_bytes,
       'application/octet-stream' AS sniffed_mime,
       md5(text) AS feature_hash,
       NULL::INT AS width, NULL::INT AS height,
       NULL::INT AS sample_rate, NULL::BIGINT AS duration_ms
FROM documents ORDER BY media_ref
"""


def mm_decode_headers(spark, sf_dir):
    """Real media metadata from payload BYTES (shrinking the stub seam,
    VERDICT r01 #9 and r02 #5): BMP, WAV, PNG (IHDR) and GIF (logical
    screen descriptor) headers are stdlib-struct-decodable, so width/
    height/sample_rate/duration come from the binary itself — the
    reference's OCR pixel gates (app/utils.py:639-682) get real dimensions
    for the common web formats; compressed-codec payloads stay behind the
    documented stub."""
    from .bytecorpus import make_bmp, make_gif, make_png, make_wav
    from .functions.multimodal import extract_media_features
    d = _t(spark, sf_dir, "documents")

    def kernel(batches: Iterator) -> Iterator:
        import pandas as pd
        for b in batches:
            rows = []
            for doc_id, text in zip(b["doc_id"], b["text"]):
                doc_id = int(doc_id)
                m = doc_id % 5
                if m == 0:
                    payload = make_bmp((doc_id % 60) + 1, (doc_id % 40) + 1)
                elif m == 1:
                    payload = make_wav(((doc_id % 50) + 1) * 800)
                elif m == 3:
                    payload = make_png((doc_id % 60) + 3, (doc_id % 40) + 2)
                elif m == 4:
                    payload = make_gif((doc_id % 500) + 1, (doc_id % 300) + 1,
                                       comment_len=doc_id % 11)
                else:
                    # NUL prefix: corpus-proof opaque bytes (no accidental
                    # magic-signature match however the corpus changes)
                    payload = b"\x00" + text.encode("utf-8")
                rows.append((f"m://{doc_id}", payload,
                             "application/octet-stream", None, None))
            yield pd.DataFrame(rows, columns=[
                "media_ref", "payload", "mime", "width", "height"])

    from .functions.multimodal import MEDIA_SCHEMA
    media = d.select("doc_id", "text").mapInPandas(kernel, schema=MEDIA_SCHEMA)
    return extract_media_features(media).select(
        "media_ref", "status", "sniffed_mime", "n_bytes",
        "width", "height", "sample_rate", "duration_ms",
    )


MM_DECODE_SQL = """
WITH f AS (
  SELECT doc_id, text, doc_id % 5 AS m,
         (doc_id % 60) + 1 AS w, (doc_id % 40) + 1 AS h,
         ((doc_id % 50) + 1) * 800 AS ns,
         (doc_id % 60) + 3 AS pw, (doc_id % 40) + 2 AS ph,
         (doc_id % 500) + 1 AS gw, (doc_id % 300) + 1 AS gh,
         doc_id % 11 AS cl
  FROM documents
)
SELECT concat('m://', doc_id::VARCHAR) AS media_ref,
       CASE m WHEN 2 THEN 'stubbed' ELSE 'decoded' END AS status,
       CASE m WHEN 0 THEN 'image/bmp' WHEN 1 THEN 'audio/wav'
              WHEN 3 THEN 'image/png' WHEN 4 THEN 'image/gif'
              ELSE 'application/octet-stream' END AS sniffed_mime,
       CASE m WHEN 0 THEN CAST(54 + h * (((3 * w + 3) // 4) * 4) AS BIGINT)
              WHEN 1 THEN CAST(44 + 2 * ns AS BIGINT)
              WHEN 3 THEN CAST(ph * (pw + 1) + 68 AS BIGINT)
              WHEN 4 THEN CAST(14 + CASE WHEN cl > 0 THEN 4 + cl ELSE 0 END
                               AS BIGINT)
              ELSE (length(text) + 1)::BIGINT END AS n_bytes,
       CASE m WHEN 0 THEN w::INT WHEN 3 THEN pw::INT WHEN 4 THEN gw::INT
              END AS width,
       CASE m WHEN 0 THEN h::INT WHEN 3 THEN ph::INT WHEN 4 THEN gh::INT
              END AS height,
       CASE m WHEN 1 THEN 8000::INT END AS sample_rate,
       CASE m WHEN 1 THEN (ns // 8)::BIGINT END AS duration_ms
FROM f ORDER BY media_ref
"""


MM_RESIZE_MAX_DIM = 64
MM_FRAME_INTERVAL_MS = 250


def mm_resize(spark, sf_dir):
    """Image resize plumbing (multimodal.resize_media): uncompressed
    BMPs, deflate-compressed PNGs (alternating plain / Adam7-interlaced
    / palette / 16-bit-depth shapes), real-LZW GIFs (plain and
    interlaced), AND baseline-uncompressed TIFFs (gray + RGB, both byte
    orders, multi-strip with offset-valued BitsPerSample arrays) all
    resized for REAL — stdlib nearest-neighbour over the
    actually-decoded raster; resized_n_bytes verifies the emitted
    container against the BMP / encode_png closed forms (GIF and
    palette PNG normalize to RGB PNG, TIFF keeps its sample count, so
    the byte sizes prove the channel handling ran; 16-bit arms only
    reach status='resized' if the 16->8 sample reduction decoded).
    WAV/opaque payloads route to 'unsupported'. The aspect-preserving
    dimension math is pure floor division, so the whole plan is under
    the value-hash gate."""
    from .bytecorpus import (make_bmp, make_gif, make_png, make_tiff,
                             make_wav)
    from .functions.multimodal import MEDIA_SCHEMA, resize_media
    d = _t(spark, sf_dir, "documents")

    def kernel(batches: Iterator) -> Iterator:
        import pandas as pd
        for b in batches:
            rows = []
            for doc_id, text in zip(b["doc_id"], b["text"]):
                doc_id = int(doc_id)
                m = doc_id % 5
                if m == 0 and doc_id % 10 >= 5:
                    # the m==0 TIFF half is always doc_id%10==5 (odd),
                    # so cycle byte order on %4 (1/3 alternate), not %2
                    payload = make_tiff((doc_id % 150) + 2,
                                        (doc_id % 90) + 2,
                                        samples=3 if doc_id % 3 == 2 else 1,
                                        big_endian=doc_id % 4 < 2,
                                        raster=True)
                elif m == 0:
                    payload = make_bmp((doc_id % 200) + 1, (doc_id % 140) + 1)
                elif m == 1:
                    payload = make_wav(((doc_id % 50) + 1) * 800)
                elif m == 3:
                    # m == 3 forces doc_id % 10 into {3, 8}: palette on
                    # the 3s, 16-bit grayscale on the 8s — both halves
                    # actually fire (a `< 3` guard here would be DEAD)
                    payload = make_png((doc_id % 300) + 3, (doc_id % 200) + 2,
                                       color=3 if doc_id % 10 == 3 else 0,
                                       interlace=1 if doc_id % 4 < 2 else 0,
                                       depth=16 if doc_id % 10 == 8 else 8)
                elif m == 4:
                    payload = make_gif((doc_id % 100) + 3, (doc_id % 60) + 2,
                                       raster=True,
                                       interlaced=doc_id % 3 == 1)
                else:
                    # NUL prefix: corpus-proof opaque bytes — no text can
                    # accidentally start with an image magic signature
                    payload = b"\x00" + text.encode("utf-8")
                rows.append((f"m://{doc_id}", payload,
                             "application/octet-stream", None, None))
            yield pd.DataFrame(rows, columns=[
                "media_ref", "payload", "mime", "width", "height"])

    # mapInPandas inherits the input-file splits — a one-file documents
    # table would run the whole pixel tier as ONE task without this
    n = d.sparkSession.sparkContext.defaultParallelism * 2
    media = (d.select("doc_id", "text").repartition(n, F.col("doc_id"))
             .mapInPandas(kernel, schema=MEDIA_SCHEMA))
    return resize_media(media, MM_RESIZE_MAX_DIM).select(
        "media_ref", "status", "src_w", "src_h", "dst_w", "dst_h",
        "scale_milli", "resized_n_bytes",
    )


MM_RESIZE_SQL = f"""
WITH f AS (
  SELECT doc_id, doc_id % 5 AS m,
         doc_id % 5 = 0 AND doc_id % 10 >= 5 AS tif,
         CASE WHEN doc_id % 5 = 0 THEN
                CASE WHEN doc_id % 10 >= 5 THEN (doc_id % 150) + 2
                     ELSE (doc_id % 200) + 1 END
              WHEN doc_id % 5 = 3 THEN (doc_id % 300) + 3
              WHEN doc_id % 5 = 4 THEN (doc_id % 100) + 3 END AS w,
         CASE WHEN doc_id % 5 = 0 THEN
                CASE WHEN doc_id % 10 >= 5 THEN (doc_id % 90) + 2
                     ELSE (doc_id % 140) + 1 END
              WHEN doc_id % 5 = 3 THEN (doc_id % 200) + 2
              WHEN doc_id % 5 = 4 THEN (doc_id % 60) + 2 END AS h,
         -- output channels of the re-encoded container: BMP stays BGR
         -- (counted separately below); PNG keeps its decoded channel
         -- count (palette fixtures expand to RGB, grayscale stays 1);
         -- GIF always normalizes to RGB; TIFF keeps its sample count
         CASE WHEN doc_id % 5 = 0 AND doc_id % 10 >= 5 THEN
                CASE WHEN doc_id % 3 = 2 THEN 3 ELSE 1 END
              WHEN doc_id % 5 = 3 THEN
                CASE WHEN doc_id % 10 = 3 THEN 3 ELSE 1 END
              WHEN doc_id % 5 = 4 THEN 3 END AS ch
  FROM documents
),
p AS (
  SELECT doc_id, m, tif, ch, w::INT AS w, h::INT AS h,
         CASE WHEN w IS NULL THEN NULL
              WHEN greatest(w, h) <= {MM_RESIZE_MAX_DIM} THEN w
              ELSE greatest(1, (w * {MM_RESIZE_MAX_DIM}) // greatest(w, h))
         END::INT AS dw,
         CASE WHEN w IS NULL THEN NULL
              WHEN greatest(w, h) <= {MM_RESIZE_MAX_DIM} THEN h
              ELSE greatest(1, (h * {MM_RESIZE_MAX_DIM}) // greatest(w, h))
         END::INT AS dh,
         CASE WHEN w IS NULL THEN NULL
              WHEN greatest(w, h) <= {MM_RESIZE_MAX_DIM} THEN 1000000
              ELSE (1000000 * {MM_RESIZE_MAX_DIM}) // greatest(w, h)
         END::BIGINT AS sm
  FROM f
)
SELECT concat('m://', doc_id::VARCHAR) AS media_ref,
       CASE m WHEN 0 THEN 'resized' WHEN 3 THEN 'resized'
              WHEN 4 THEN 'resized' ELSE 'unsupported' END AS status,
       w AS src_w, h AS src_h, dw AS dst_w, dh AS dst_h, sm AS scale_milli,
       -- BMP: header + padded BGR rows. PNG, GIF and TIFF re-encode
       -- through encode_png: closed form 63 + 5*ceil(L/65535) + L with
       -- L = dh*(dw*ch+1) filter-0 scanlines in stored-deflate; ch
       -- carries the decode-side channel expansion (palette/GIF -> 3,
       -- TIFF -> its sample count).
       CASE WHEN m = 0 AND NOT tif
              THEN CAST(54 + dh * (((3 * dw + 3) // 4) * 4) AS BIGINT)
            ELSE CAST(63 + 5 * ((dh * (dw * ch + 1) + 65534) // 65535)
                        + dh * (dw * ch + 1) AS BIGINT)
            END AS resized_n_bytes
FROM p ORDER BY media_ref
"""


def mm_frame_sample(spark, sf_dir):
    """Frame/segment sampling plumbing (multimodal.sample_frames): WAV
    durations are REAL header arithmetic (data_bytes*1000 // byte_rate);
    animated GIF durations are the REAL Graphic Control Extension delay
    sum over a real multi-frame LZW container
    (multimodal.decode_gif_animation); frame count/timestamps are
    integer arithmetic over them. A WebM container with no Info
    Duration is recognized-but-stubbed (a Cluster timestamp walk lives
    in the codec layer); still images route to 'unsupported'."""
    from .bytecorpus import make_bmp, make_gif, make_wav
    from .functions.multimodal import MEDIA_SCHEMA, sample_frames
    d = _t(spark, sf_dir, "documents")

    def kernel(batches: Iterator) -> Iterator:
        import pandas as pd
        for b in batches:
            rows = []
            for doc_id in b["doc_id"]:
                doc_id = int(doc_id)
                m = doc_id % 4
                if m == 0:
                    payload = make_wav(((doc_id % 79) + 1) * 400)
                elif m == 1:
                    payload = b"\x1a\x45\xdf\xa3" + b"x" * 16
                elif m == 3:
                    payload = make_gif((doc_id % 40) + 2,
                                       (doc_id % 30) + 2, raster=True,
                                       frames=(doc_id % 7) + 2,
                                       delay_cs=(doc_id % 20) + 1)
                else:
                    payload = make_bmp((doc_id % 30) + 1, (doc_id % 20) + 1)
                rows.append((f"m://{doc_id}", payload,
                             "application/octet-stream", None, None))
            yield pd.DataFrame(rows, columns=[
                "media_ref", "payload", "mime", "width", "height"])

    n = d.sparkSession.sparkContext.defaultParallelism * 2
    media = (d.select("doc_id").repartition(n, F.col("doc_id"))
             .mapInPandas(kernel, schema=MEDIA_SCHEMA))
    return sample_frames(media, MM_FRAME_INTERVAL_MS)


MM_FRAME_SQL = f"""
WITH f AS (
  SELECT doc_id, doc_id % 4 AS m,
         CASE doc_id % 4
           -- make_wav(n): 16-bit mono at 8000 Hz -> duration = n // 8 ms
           WHEN 0 THEN (((doc_id % 79) + 1) * 400) // 8
           -- animated GIF: frames * delay_cs * 10 ms (GCE per frame)
           WHEN 3 THEN ((doc_id % 7) + 2) * ((doc_id % 20) + 1) * 10
         END AS d
  FROM documents
)
SELECT concat('m://', doc_id::VARCHAR) AS media_ref,
       CASE m WHEN 0 THEN 'sampled' WHEN 3 THEN 'sampled'
              WHEN 1 THEN 'stubbed' ELSE 'unsupported' END AS status,
       d::BIGINT AS duration_ms,
       CASE WHEN m IN (0, 3) THEN d // {MM_FRAME_INTERVAL_MS} + 1 END::INT
         AS n_frames,
       CASE WHEN m IN (0, 3) THEN 0 END::BIGINT AS first_ts_ms,
       CASE WHEN m IN (0, 3) THEN (d // {MM_FRAME_INTERVAL_MS})
              * {MM_FRAME_INTERVAL_MS} END::BIGINT AS last_ts_ms
FROM f ORDER BY media_ref
"""


_OCR_GATE_SCHEMA = StructType([
    StructField("media_ref", StringType(), False),
    StructField("eligible", BooleanType()),
    StructField("reason", StringType()),
    StructField("fmt", StringType()),
    StructField("mode", StringType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("min_ok", BooleanType()),
])


def mm_audio_headers(spark, sf_dir):
    """Audio metadata from payload BYTES, widening the decoded-for-real
    set beyond WAV: doc_id %% 5 builds (0) a FLAC whose STREAMINFO
    packs the exact 36-bit total-sample count (duration exact), (1) an
    ID3v2-wrapped CBR MP3 (syncsafe tag skip + frame-header tables,
    duration = the standard header-only CBR estimate), (2) a bare MP3
    stream recognized by frame sync alone, (3) a Xing-tagged VBR MP3
    (exact frame-count duration from the first frame's Xing header),
    (4) a VBRI-tagged VBR MP3 (the Fraunhofer twin at the fixed
    32-byte offset). All sizes/durations are integer closed forms of
    doc_id."""
    from .bytecorpus import make_flac, make_mp3
    from .functions.multimodal import MEDIA_SCHEMA, extract_media_features
    d = _t(spark, sf_dir, "documents")

    def kernel(batches: Iterator) -> Iterator:
        import pandas as pd
        for b in batches:
            rows = []
            for doc_id in b["doc_id"]:
                doc_id = int(doc_id)
                m = doc_id % 5
                if m == 0:
                    payload = make_flac(((doc_id % 50) + 1) * 441)
                elif m == 1:
                    payload = make_mp3((doc_id % 20) + 1, with_id3=True)
                elif m == 3:
                    payload = make_mp3(
                        2, xing_frames=((doc_id % 90) + 1) * 10)
                elif m == 4:
                    payload = make_mp3(3, vbri_frames=(doc_id % 70) + 2)
                else:
                    payload = make_mp3((doc_id % 15) + 1)
                rows.append((f"a://{doc_id}", payload,
                             "application/octet-stream", None, None))
            yield pd.DataFrame(rows, columns=[
                "media_ref", "payload", "mime", "width", "height"])

    media = d.select("doc_id").mapInPandas(kernel, schema=MEDIA_SCHEMA)
    return extract_media_features(media).select(
        "media_ref", "status", "sniffed_mime", "n_bytes",
        "sample_rate", "duration_ms",
    )


MM_AUDIO_SQL = """
WITH f AS (
  SELECT doc_id, doc_id % 5 AS m,
         ((doc_id % 50) + 1) * 441 AS ns,
         (doc_id % 20) + 1 AS f1, (doc_id % 15) + 1 AS f2,
         ((doc_id % 90) + 1) * 10 AS xf, (doc_id % 70) + 2 AS vf
  FROM documents
)
SELECT concat('a://', doc_id::VARCHAR) AS media_ref,
       'decoded' AS status,
       CASE m WHEN 0 THEN 'audio/flac' ELSE 'audio/mpeg' END AS sniffed_mime,
       CASE m WHEN 0 THEN 42
              WHEN 1 THEN 10 + 417 * f1
              WHEN 3 THEN 417 * 2
              WHEN 4 THEN 417 * 3
              ELSE 417 * f2 END::BIGINT AS n_bytes,
       44100 AS sample_rate,
       -- VBR arms: exact frame-count duration (frames * 1152 samples);
       -- CBR arms keep the standard bytes*8/bitrate estimate
       CASE m WHEN 0 THEN ns * 1000 // 44100
              WHEN 1 THEN (417 * f1 * 8 * 1000) // 128000
              WHEN 3 THEN xf * 1152 * 1000 // 44100
              WHEN 4 THEN vf * 1152 * 1000 // 44100
              ELSE (417 * f2 * 8 * 1000) // 128000 END::BIGINT AS duration_ms
FROM f ORDER BY media_ref
"""


def mm_video_headers(spark, sf_dir):
    """Video metadata from container walking: doc_id %% 3 builds (0) a
    v0 mvhd + tkhd MP4 (decode_mp4_header ISO-BMFF box walk) — exact
    duration at the 1 kHz timescale plus 16.16-fixed presentation dims,
    (1) a v1 mvhd at the 90 kHz broadcast timescale with no video track
    (dims stay NULL), (2) a WebM (decode_webm_header EBML element
    walk) — Segment > Info gives TimecodeScale+Duration, Tracks >
    TrackEntry > Video gives pixel dims. Sizes/durations are closed
    forms of doc_id."""
    from .bytecorpus import make_mp4, make_webm
    from .functions.multimodal import MEDIA_SCHEMA, extract_media_features
    d = _t(spark, sf_dir, "documents")

    def kernel(batches: Iterator) -> Iterator:
        import pandas as pd
        for b in batches:
            rows = []
            for doc_id in b["doc_id"]:
                doc_id = int(doc_id)
                m = doc_id % 3
                if m == 0:
                    payload = make_mp4(((doc_id % 60) + 1) * 500,
                                       timescale=1000,
                                       width=((doc_id % 4) + 1) * 160,
                                       height=((doc_id % 3) + 1) * 90)
                elif m == 2:
                    # 1 ms per tick (the default 10^6 ns TimecodeScale),
                    # so duration_ms == ticks exactly
                    payload = make_webm(((doc_id % 80) + 1) * 250,
                                        width=((doc_id % 5) + 1) * 128,
                                        height=((doc_id % 4) + 1) * 72)
                else:
                    payload = make_mp4(((doc_id % 120) + 1) * 90000,
                                       timescale=90000, v1=True)
                rows.append((f"v://{doc_id}", payload,
                             "application/octet-stream", None, None))
            yield pd.DataFrame(rows, columns=[
                "media_ref", "payload", "mime", "width", "height"])

    media = d.select("doc_id").mapInPandas(kernel, schema=MEDIA_SCHEMA)
    return extract_media_features(media).select(
        "media_ref", "status", "sniffed_mime", "n_bytes",
        "width", "height", "duration_ms",
    )


MM_VIDEO_SQL = """
SELECT concat('v://', doc_id::VARCHAR) AS media_ref,
       'decoded' AS status,
       CASE doc_id % 3 WHEN 2 THEN 'video/webm'
            ELSE 'video/mp4' END AS sniffed_mime,
       -- make_webm fixed-width encoding: 58 bytes with video dims
       CASE doc_id % 3 WHEN 0 THEN 232 WHEN 2 THEN 58
            ELSE 144 END::BIGINT AS n_bytes,
       CASE doc_id % 3 WHEN 0 THEN ((doc_id % 4) + 1) * 160
            WHEN 2 THEN ((doc_id % 5) + 1) * 128 END::INT
         AS width,
       CASE doc_id % 3 WHEN 0 THEN ((doc_id % 3) + 1) * 90
            WHEN 2 THEN ((doc_id % 4) + 1) * 72 END::INT
         AS height,
       CASE doc_id % 3 WHEN 0 THEN ((doc_id % 60) + 1) * 500
            WHEN 2 THEN ((doc_id % 80) + 1) * 250
            ELSE ((doc_id % 120) + 1) * 1000 END::BIGINT AS duration_ms
FROM documents ORDER BY media_ref
"""


def mm_ocr_gates(spark, sf_dir):
    """E2/E22 pre-OCR validation on REAL header metadata
    (validate_image_for_ocr app/utils.py:639-682 check-for-check): the
    50*1024*1024 pixel cap, the JPEG/PNG/TIFF/BMP/GIF format whitelist,
    the L/RGB/RGBA/P mode whitelist, plus the URL-path 150x150 minimum
    (app/config.py:78-80) as min_ok. Dimensions and modes come from
    from-scratch JPEG SOF / TIFF IFD / PNG IHDR / GIF LSD / WEBP VP8X
    header decodes — only the Tesseract call itself stays external."""
    from .bytecorpus import (make_gif, make_jpeg, make_png, make_tiff,
                             make_webp_vp8x)
    from .functions.multimodal import ocr_gate
    d = _t(spark, sf_dir, "documents")

    def kernel(batches: Iterator) -> Iterator:
        import pandas as pd
        for b in batches:
            rows = []
            for doc_id, text in zip(b["doc_id"], b["text"]):
                doc_id = int(doc_id)
                m = doc_id % 8
                if m == 0:
                    payload = make_jpeg((doc_id % 400) + 100,
                                        (doc_id % 250) + 50)
                elif m == 1:
                    payload = make_tiff((doc_id % 300) + 10,
                                        (doc_id % 200) + 10,
                                        samples=3 if doc_id % 2 else 1)
                elif m == 2:
                    payload = make_png((doc_id % 50) + 3, (doc_id % 30) + 2)
                elif m == 3:
                    payload = make_png(20, 10, color=4)        # LA mode
                elif m == 4:
                    payload = make_gif(65000, (doc_id % 300) + 900)  # > cap
                elif m == 5:
                    payload = make_webp_vp8x(640, 480)
                elif m == 6:
                    payload = make_jpeg(300, 200, ncomp=4)     # CMYK
                else:
                    payload = text.encode("utf-8")
                g = ocr_gate(payload)
                rows.append((f"m://{doc_id}", g["eligible"], g["reason"],
                             g["fmt"], g["mode"], g["width"], g["height"],
                             g["min_ok"]))
            yield pd.DataFrame(rows, columns=[
                f.name for f in _OCR_GATE_SCHEMA.fields])

    return d.select("doc_id", "text").mapInPandas(
        kernel, schema=_OCR_GATE_SCHEMA)


MM_OCR_GATES_SQL = """
WITH f AS (
  SELECT doc_id, doc_id % 8 AS m,
         (doc_id % 400) + 100 AS jw, (doc_id % 250) + 50 AS jh,
         (doc_id % 300) + 10 AS tw, (doc_id % 200) + 10 AS th,
         (doc_id % 50) + 3 AS pw, (doc_id % 30) + 2 AS ph,
         (doc_id % 300) + 900 AS gh
  FROM documents
),
g AS (
  SELECT doc_id, m,
         CASE m WHEN 0 THEN 'JPEG' WHEN 1 THEN 'TIFF' WHEN 2 THEN 'PNG'
                WHEN 3 THEN 'PNG' WHEN 4 THEN 'GIF' WHEN 5 THEN 'WEBP'
                WHEN 6 THEN 'JPEG' END AS fmt,
         CASE m WHEN 0 THEN 'RGB'
                WHEN 1 THEN CASE WHEN doc_id % 2 = 1 THEN 'RGB' ELSE 'L' END
                WHEN 2 THEN 'L' WHEN 3 THEN 'LA' WHEN 4 THEN 'P'
                WHEN 5 THEN 'RGB' WHEN 6 THEN 'CMYK' END AS mode,
         CASE m WHEN 0 THEN jw WHEN 1 THEN tw WHEN 2 THEN pw WHEN 3 THEN 20
                WHEN 4 THEN 65000 WHEN 5 THEN 640 WHEN 6 THEN 300
                END::INT AS width,
         CASE m WHEN 0 THEN jh WHEN 1 THEN th WHEN 2 THEN ph WHEN 3 THEN 10
                WHEN 4 THEN gh WHEN 5 THEN 480 WHEN 6 THEN 200
                END::INT AS height
  FROM f
)
SELECT concat('m://', doc_id::VARCHAR) AS media_ref,
       (m IN (0, 1, 2)) AS eligible,
       CASE WHEN m = 4 THEN 'Image too large: ' || (65000 * gh.height)::VARCHAR
                            || ' pixels (max: 52428800)'
            WHEN m = 5 THEN 'Unsupported image format: WEBP'
            WHEN m = 3 THEN 'Unsupported color mode: LA'
            WHEN m = 6 THEN 'Unsupported color mode: CMYK'
            WHEN m = 7 THEN 'Failed to process image: cannot identify image'
       END AS reason,
       gh.fmt AS fmt, gh.mode AS mode, gh.width AS width, gh.height AS height,
       coalesce(gh.width::BIGINT * gh.height >= 22500, false) AS min_ok
FROM g gh ORDER BY media_ref
"""


# ---------------------------------------------------------------------------
# Byte ingestion: REAL container bytes through the full pipeline
# (ingest kernel -> JVM fan-out -> extraction kernel), closed-form oracles
# ---------------------------------------------------------------------------

_BYTES_SCHEMA = StructType([
    StructField("doc_id", StringType(), False),
    StructField("filename", StringType()),
    StructField("content", BinaryType()),
])


def _bytes_table(d: DataFrame, builder) -> DataFrame:
    """documents -> (doc_id, filename, content binary) via an Arrow kernel
    running ``builder(doc_id, text, source) -> (filename, bytes)``.

    Repartitioned to the session's parallelism first: the documents
    parquet is one input split at test scale, and without the spread the
    builder + downstream ingest/extraction kernels would all run on one
    task (the same tiny-listing/heavy-rows shape as the URL fetch tier).
    """
    def kernel(batches: Iterator) -> Iterator:
        import pandas as pd
        for b in batches:
            rows = [
                (str(doc_id), *builder(int(doc_id), text, source))
                for doc_id, text, source in zip(b["doc_id"], b["text"],
                                                b["source"])
            ]
            yield pd.DataFrame(rows, columns=["doc_id", "filename", "content"])
    n = d.sparkSession.sparkContext.defaultParallelism * 2
    return d.select("doc_id", "text", "source").repartition(
        n, F.col("doc_id")).mapInPandas(kernel, schema=_BYTES_SCHEMA)


def ext_zip_fanout(spark, sf_dir):
    """Real zip bytes (S7/A1-A8 from actual containers): every doc becomes
    a 4-entry archive — plain member, markdown member in a subdir, a
    path-traversal name (sanitized), a __MACOSX system file (dropped) —
    parsed by the stdlib zipfile ingest kernel and fanned out JVM-side.
    Mirrors /root/reference/tests/test_extractors.py:334-347 and
    app/extractors.py:1651-1736."""
    from .bytecorpus import make_zip
    from .ingest import extract_from_bytes
    d = _t(spark, sf_dir, "documents")

    def builder(doc_id, text, source):
        return "bundle.zip", make_zip({
            "a.txt": text.encode("utf-8"),
            "sub/b.md": ("# Doc Title\n\n" + text).encode("utf-8"),
            "..\\evil.txt": b"evil payload",
            "__MACOSX/._junk": b"junk",
        })

    out = extract_from_bytes(_bytes_table(d, builder))
    return out.select(
        "doc_id", "status",
        F.element_at("spans", 1).getField("text").alias("extracted"),
    )


def ext_archive_guards(spark, sf_dir):
    """Archive guard rails (A2/A3/A6) under the hash gate, from REAL
    bytes: doc_id %% 4 routes (0) a 3-level nested zip — recursive member
    processing with path = archive/member chains (A6,
    app/extractors.py:1961-1994), (1) a metadata-lying bomb whose central
    directory declares 200 MB for a 4-byte member — the declared-size sum
    guard fires before any read (A2, :1665-1676), (2) a bare gzip named
    .gz — the tarfile r:* "Invalid TAR file" rejection quirk (A3,
    :1739-1758), (3) a 4-level nested zip — the depth-capped archive
    surfaces as an empty-member child doc, status 'empty', and the
    too-deep member never appears (nesting cap 3, :1979-1984)."""
    from .bytecorpus import forge_zip_declared_size, make_zip
    from .ingest import extract_from_bytes
    d = _t(spark, sf_dir, "documents")

    def builder(doc_id, text, source):
        import gzip as _gzip
        m = doc_id % 4
        if m == 0:
            return "root.zip", make_zip({"l1.zip": make_zip({
                "l2.zip": make_zip({"deep.txt": text.encode("utf-8")})})})
        if m == 1:
            return "b.zip", forge_zip_declared_size(
                make_zip({"huge.bin": b"tiny"}), "huge.bin",
                200 * 1024 * 1024)
        if m == 2:
            return "x.gz", _gzip.compress(b"plain payload")
        return "r4.zip", make_zip({"l1.zip": make_zip({
            "l2.zip": make_zip({"l3.zip": make_zip({
                "too.txt": b"below the cap"})})})})

    out = extract_from_bytes(_bytes_table(d, builder))
    return out.select(
        "doc_id", "status",
        F.try_element_at("spans", F.lit(1)).getField("text")
         .alias("extracted"),
    )


EXT_ARCHIVE_GUARDS_SQL = """
SELECT CASE doc_id % 4
         WHEN 0 THEN doc_id::VARCHAR || '/l1.zip/l2.zip/deep.txt'
         WHEN 3 THEN doc_id::VARCHAR || '/l1.zip/l2.zip/l3.zip'
         ELSE doc_id::VARCHAR
       END AS doc_id,
       CASE doc_id % 4
         WHEN 0 THEN 'ok'
         WHEN 1 THEN 'error: Error processing archive: Extracted files '
                     || 'size exceeds maximum allowed size '
                     || '(zip bomb protection)'
         WHEN 2 THEN 'error: Error processing archive: Invalid TAR file'
         ELSE 'empty'
       END AS status,
       CASE doc_id % 4 WHEN 0 THEN text ELSE NULL END AS extracted
FROM documents ORDER BY doc_id
"""


EXT_ZIP_FANOUT_SQL = """
WITH kids AS (
  SELECT concat(doc_id::VARCHAR, '/a.txt') AS doc_id, text AS extracted
  FROM documents
  UNION ALL
  SELECT concat(doc_id::VARCHAR, '/evil.txt'), 'evil payload' FROM documents
  UNION ALL
  SELECT concat(doc_id::VARCHAR, '/sub/b.md'),
         'Doc Title' || chr(10) || text FROM documents
)
SELECT doc_id, 'ok' AS status, extracted FROM kids ORDER BY doc_id
"""


def ext_rar7z_fanout(spark, sf_dir):
    """Real RAR5/7z bytes (A4/A5) through the vendored from-scratch
    readers (extractors/arclite.py; the reference walks these with
    rarfile/py7zr, app/extractors.py:1812-1959): even docs are
    stored-method RAR5 with a skipped directory entry, odd docs are 7z
    cycling Copy / raw-LZMA2 /
    Delta+LZMA2 / BCJ-x86+LZMA1 coders (the last two are two-coder
    bind-pair filter chains), all fanned out JVM-side like every
    archive."""
    from .bytecorpus import make_7z, make_rar5
    from .ingest import extract_from_bytes
    d = _t(spark, sf_dir, "documents")

    def builder(doc_id, text, source):
        entries = {
            "a.txt": text.encode("utf-8"),
            "sub/b.md": ("# Doc Title\n\n" + text).encode("utf-8"),
        }
        if doc_id % 2:
            coder = ("copy", "lzma2", "delta-lzma2",
                     "bcj-lzma1")[(doc_id // 2) % 4]
            return "bundle.7z", make_7z(entries, coder=coder)
        return "bundle.rar", make_rar5(entries, with_dir="sub")

    out = extract_from_bytes(_bytes_table(d, builder))
    return out.select(
        "doc_id", "status",
        F.element_at("spans", 1).getField("text").alias("extracted"),
    )


EXT_RAR7Z_FANOUT_SQL = """
WITH kids AS (
  SELECT concat(doc_id::VARCHAR, '/a.txt') AS doc_id, text AS extracted
  FROM documents
  UNION ALL
  SELECT concat(doc_id::VARCHAR, '/sub/b.md'),
         'Doc Title' || chr(10) || text FROM documents
)
SELECT doc_id, 'ok' AS status, extracted FROM kids ORDER BY doc_id
"""


def ext_office_bytes(spark, sf_dir):
    """Real DOCX/XLSX/PPTX/EPUB/ODS/XLS/DOC/PPT/ODT bytes (E3/E4/E5/E7/
    E8/E18/E19 from actual containers, app/extractors.py:288-635,
    1107-1167; ods and legacy OLE xls through the Excel path at :475-492;
    legacy doc/ppt via the from-scratch [MS-DOC]/[MS-PPT] parsers where
    the reference shells to LibreOffice at :392-473/:554-635; odt
    paragraph walk at :637-680): format chosen by doc_id %% 9, each
    wrapping the known text so extraction is closed-form. Legacy xls
    alternates the regular-FAT and ministream CFB layouts by doc_id
    parity; legacy doc carries text past ccpText that must NOT leak."""
    from .bytecorpus import make_doc, make_docx, make_epub, make_ods, \
        make_odt, make_ppt, make_pptx, make_xls, make_xlsx
    from .ingest import extract_from_bytes
    d = _t(spark, sf_dir, "documents")

    def builder(doc_id, text, source):
        m = doc_id % 9
        if m == 8:
            return "f.odt", make_odt([text, "Odt " + source])
        if m == 6:
            return "f.doc", make_doc([text, "Legacy " + source],
                                     extra_text="must-not-leak",
                                     which_table=(doc_id // 8) % 2,
                                     header="Hd " + source,
                                     footer="Ft " + str(doc_id),
                                     footnotes=["Fn " + source],
                                     table=[["Ta", source],
                                            ["Tb", str(doc_id)]])
        if m == 7:
            return "f.ppt", make_ppt(
                [{"shapes": [text], "notes": ["n2 " + source],
                  "textboxes": ["Tb " + source]}])
        if m == 0:
            return "f.docx", make_docx([text], table=[["a", "b"]], header="Hdr")
        if m == 1:
            return "f.xlsx", make_xlsx({"S1": [["w", "id"],
                                               [source, str(doc_id)]]})
        if m == 2:
            return "f.pptx", make_pptx(
                [{"shapes": [text], "notes": ["Notes", "n " + source]}])
        if m == 3:
            return "f.epub", make_epub({"ch1.xhtml": text},
                                       extras={"style.css": b"p{}"})
        if m == 4:
            return "f.ods", make_ods({"T": [["w", "id"], [source, doc_id]]},
                                     trailing_empty_cols=16382)
        return "f.xls", make_xls({"T": [["w", "id"], [source, doc_id]]},
                                 in_ministream=bool(doc_id % 2))

    out = extract_from_bytes(_bytes_table(d, builder))
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"), "status", "n_spans",
        F.element_at("spans", 1).getField("text").alias("extracted"),
    )


EXT_OFFICE_BYTES_SQL = r"""
SELECT doc_id, 'ok' AS status, 1 AS n_spans,
       CASE doc_id % 9
         WHEN 8 THEN text || chr(10) || 'Odt ' || source
         WHEN 0 THEN text || chr(10) || chr(10) || 'a' || chr(9) || 'b'
                     || chr(10) || chr(10) || '[Header]' || chr(10) || 'Hdr'
         WHEN 1 THEN '[Sheet: S1]' || chr(10) || chr(10) || 'w,id' || chr(10)
                     || source || ',' || doc_id::VARCHAR || chr(10)
         WHEN 2 THEN '[Slide 1]' || chr(10) || text || chr(10)
                     || '[Speaker Notes]' || chr(10) || 'n ' || source
         WHEN 3 THEN text
         WHEN 6 THEN text || chr(10) || chr(10) || 'Legacy ' || source
                     || chr(10) || chr(10) || 'Ta' || chr(9) || source
                     || chr(10) || 'Tb' || chr(9) || doc_id::VARCHAR
                     || chr(10) || chr(10) || '[Header]' || chr(10) || 'Hd '
                     || source || chr(10) || chr(10) || '[Footer]'
                     || chr(10) || 'Ft ' || doc_id::VARCHAR
                     || chr(10) || chr(10) || '[Footnotes]'
                     || chr(10) || 'Fn ' || source
         WHEN 7 THEN '[Slide 1]' || chr(10) || text || chr(10)
                     || 'Tb ' || source || chr(10)
                     || '[Speaker Notes]' || chr(10) || 'n2 ' || source
         ELSE '[Sheet: T]' || chr(10) || chr(10) || 'w,id' || chr(10)
              || source || ',' || doc_id::VARCHAR || chr(10)
       END AS extracted
FROM documents ORDER BY doc_id
"""


def ext_url_source(spark, sf_dir):
    """URL source (S3, app/main.py:516-639 + extract_from_url) with the
    fetch tier injected: doc_id % 4 exercises the HTML-page path (page-
    mode strip via the shared kernel), the file-download path (filename
    derivation + byte ingestion), the SSRF hostname block, and the scheme
    gate. The fetcher derives content deterministically from the URL, so
    every row is closed-form."""
    from . import urlsource
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    urls = d.select(
        F.when(d.doc_id % 4 == 0, F.concat(
            F.lit("http://corpus.example/doc"), did, F.lit(".html")))
         .when(d.doc_id % 4 == 1, F.concat(
            F.lit("http://corpus.example/doc"), did, F.lit(".txt")))
         .when(d.doc_id % 4 == 2, F.concat(
            F.lit("http://localhost/doc"), did))
         .otherwise(F.concat(F.lit("ftp://corpus.example/doc"), did))
         .alias("url"))

    def fetch(url, ua):
        name = url.rsplit("/", 1)[-1]
        did = name.split(".")[0][3:]
        if url.endswith(".html"):
            html = ("<html><head><style>p{margin:0}</style></head><body>"
                    "<nav>site chrome</nav><p>Doc " + did + " body</p>"
                    "<footer>footer junk</footer></body></html>")
            return {"content_type": "text/html", "final_url": url,
                    "headers": {}, "content": html.encode("utf-8")}
        return {"content_type": "text/plain", "final_url": url,
                "headers": {"content-type": "text/plain"},
                "content": ("Plain doc " + did + " payload").encode("utf-8")}

    out = urlsource.extract_from_urls(
        urls, fetch, resolver=lambda h: ["93.184.216.34"])
    return out.select(
        F.col("doc_id").alias("url"), "status",
        F.try_element_at("spans", F.lit(1)).getField("text")
         .alias("extracted"),
    )


EXT_URL_SOURCE_SQL = """
SELECT CASE doc_id % 4
         WHEN 0 THEN 'http://corpus.example/doc' || doc_id::VARCHAR || '.html'
         WHEN 1 THEN 'http://corpus.example/doc' || doc_id::VARCHAR || '.txt'
         WHEN 2 THEN 'http://localhost/doc' || doc_id::VARCHAR
         ELSE 'ftp://corpus.example/doc' || doc_id::VARCHAR
       END AS url,
       CASE doc_id % 4
         WHEN 0 THEN 'ok'
         WHEN 1 THEN 'ok'
         WHEN 2 THEN 'error: Access to internal IP addresses is ' ||
                     'prohibited for security reasons.'
         ELSE 'error: URL must start with http:// or https://'
       END AS status,
       CASE doc_id % 4
         WHEN 0 THEN 'Doc ' || doc_id::VARCHAR || ' body'
         WHEN 1 THEN 'Plain doc ' || doc_id::VARCHAR || ' payload'
       END AS extracted
FROM documents ORDER BY url
"""


def _msg_fixture_bytes() -> bytes:
    """Deterministic MSG bytes engineered so the kernel's two whole-file
    decode passes (app/extractors.py:1293-1384) each see ONLY their own
    lines, making the expected text closed-form:

    * pass 1 (utf-16le): uppercase-only Cyrillic (U+0410-042F) — its
      ascii projection is digits/punctuation/controls with no letters, so
      pass 2 drops it; the duplicated line exercises the pass-1 dedupe.
    * pass 2 (ascii): letters alternated with spaces — the utf-16 pair
      projection lands in U+20xx punctuation (non-alpha), so pass 1 drops
      it; the single pad byte keeps the pair alignment on that plane.
    """
    p1 = ("ПЕРВАЯ СТРОКА ПИСЬМА ТУТ\nВТОРАЯ СТРОКА СООБЩЕНИЯ\n"
          "ВТОРАЯ СТРОКА СООБЩЕНИЯ\n")
    p2 = " l i n e   t w o   h e r e \n"
    return p1.encode("utf-16-le") + b"\n" + p2.encode("ascii")


def ext_mail_bytes(spark, sf_dir):
    """EML/MSG kernels (E20/E21, app/extractors.py:1169-1384) through the
    byte-ingestion path: doc_id %% 7 routes (0) simple EML with base64 CTE
    body, (1) multipart EML - text/plain + text/html parts extracted in
    walk order (html via the no-drop get_text), application/octet-stream
    skipped, (2) RFC2047 encoded-word Subject decoding, (3) a real CFB
    .msg through the two-pass byte heuristic (fixed bytes, literal
    oracle), (4) the charset-fallback chain — whole-message bytes are
    cp1251, utf-8 strict fails, cp1251 wins (:1198-1205), (5) an EML with
    no recognized headers and empty body -> just "---" (the reference's
    "Could not extract readable text from EML file" literal at :1191 is
    DEAD code — "---" is appended unconditionally at :1184; pinned), (6)
    a .msg whose utf-16 pass yields only digit lines and whose ascii pass
    finds no letters -> the MSG fallback literal (:1307, reachable).
    Base64 transfer encoding keeps bodies lossless; bare 8-bit
    bodies ride the stdlib raw-unicode-escape quirk pinned in pytest."""
    from .ingest import extract_from_bytes
    d = _t(spark, sf_dir, "documents")

    def builder(doc_id, text, source):
        import base64
        m = doc_id % 7
        if m == 3:
            return "m.msg", _msg_fixture_bytes()
        if m == 4:
            return "m.eml", ("From: chain@corpus.example\n"
                             f"Subject: Тема письма {doc_id}\n\n"
                             "plain ascii body line").encode("cp1251")
        if m == 5:
            return "m.eml", b"X-Other: z\n\n"
        if m == 6:
            return "m.msg", "0123456789 0123456789".encode("utf-16-le")
        if m == 0:
            b64 = base64.b64encode(text.encode()).decode()
            return "m.eml", (
                "From: sender@corpus.example\n"
                f"To: rcpt{doc_id}@corpus.example\n"
                f"Subject: Doc {doc_id}\n"
                "Date: Mon, 1 Jan 2024 00:00:00 +0000\n"
                "Content-Type: text/plain; charset=utf-8\n"
                "Content-Transfer-Encoding: base64\n\n" + b64).encode()
        if m == 1:
            bp = base64.b64encode(("Plain " + text).encode()).decode()
            bh = base64.b64encode(
                ("<p>HTML <b>" + source + "</b></p>").encode()).decode()
            return "m.eml", (
                "From: multi@corpus.example\n"
                f"Subject: Multi {doc_id}\n"
                "MIME-Version: 1.0\n"
                'Content-Type: multipart/mixed; boundary="xbnd9f"\n\n'
                "--xbnd9f\nContent-Type: text/plain; charset=utf-8\n"
                "Content-Transfer-Encoding: base64\n\n" + bp + "\n"
                "--xbnd9f\nContent-Type: text/html; charset=utf-8\n"
                "Content-Transfer-Encoding: base64\n\n" + bh + "\n"
                "--xbnd9f\nContent-Type: application/octet-stream\n\nBIN\n"
                "--xbnd9f--\n").encode()
        subj = base64.b64encode(("Тема " + source).encode()).decode()
        return "m.eml", (
            "From: enc@corpus.example\n"
            f"Subject: =?utf-8?B?{subj}?=\n\n"
            "encoded-word body line").encode()

    out = extract_from_bytes(_bytes_table(d, builder))
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"), "status",
        F.element_at("spans", 1).getField("text").alias("extracted"),
    )


EXT_MAIL_BYTES_SQL = """
SELECT doc_id, 'ok' AS status,
       CASE doc_id % 7
         WHEN 0 THEN 'From: sender@corpus.example' || chr(10)
                     || 'To: rcpt' || doc_id::VARCHAR || '@corpus.example'
                     || chr(10) || 'Subject: Doc ' || doc_id::VARCHAR
                     || chr(10)
                     || 'Date: Mon, 1 Jan 2024 00:00:00 +0000' || chr(10)
                     || '---' || chr(10) || text
         WHEN 1 THEN 'From: multi@corpus.example' || chr(10)
                     || 'Subject: Multi ' || doc_id::VARCHAR || chr(10)
                     || '---' || chr(10) || 'Plain ' || text || chr(10)
                     || 'HTML ' || source
         WHEN 2 THEN 'From: enc@corpus.example' || chr(10)
                     || 'Subject: Тема ' || source || chr(10)
                     || '---' || chr(10) || 'encoded-word body line'
         WHEN 4 THEN 'From: chain@corpus.example' || chr(10)
                     || 'Subject: Тема письма ' || doc_id::VARCHAR
                     || chr(10) || '---' || chr(10)
                     || 'plain ascii body line'
         WHEN 5 THEN '---'
         WHEN 6 THEN 'Could not extract readable text from MSG file'
         ELSE 'ПЕРВАЯ СТРОКА ПИСЬМА ТУТ' || chr(10)
              || 'ВТОРАЯ СТРОКА СООБЩЕНИЯ' || chr(10)
              || 'l i n e   t w o   h e r e'
       END AS extracted
FROM documents ORDER BY doc_id
"""


def ext_url_images(spark, sf_dir):
    """<img> harvesting on the URL page path (app/extractors.py:3016-3359
    + record order :2749-2765): every doc is an HTML page; doc_id %% 4
    exercises (0) base64-before-URL emission order, (1) the 20-image
    document-order cap, (2) the per-image drop gates — pixel floor,
    valueless src (lxml parses it as "", dropped alone — :3086,:3181), SSRF,
    unidentifiable bytes, extensionless src whose content-type is outside
    the images_ocr whitelist — plus content-type extension backfill, and
    (3) data-URI mime whitelisting + query-string filename derivation.
    Every fetched byte is closed-form (bytecorpus builders), so each
    surviving image's media_ref JSON is literal in the oracle."""
    from . import urlsource
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    urls = d.select(F.concat(F.lit("http://imgs.example/page"), did,
                             F.lit(".html")).alias("url"))

    def fetch(url, ua):
        import base64
        from extract_text_spark.bytecorpus import (
            make_gif, make_jpeg, make_png)
        name = url.rsplit("/", 1)[-1]
        if name.endswith(".html"):
            d_id = int(name[4:-5])
            m = d_id % 4
            body = f"<nav>chrome</nav><p>Page {d_id}</p>"
            if m == 0:
                b64 = base64.b64encode(make_png(200, 150)).decode()
                body += ('<img src="/img/a.gif">'
                         f'<img src="data:image/png;base64,{b64}">')
            elif m == 1:
                body += "".join(f'<img src="/i{k}.gif">' for k in range(25))
            elif m == 2:
                b64s = base64.b64encode(make_png(100, 100)).decode()
                body += (f'<img src="data:image/png;base64,{b64s}">'
                         '<img src>'
                         '<img src="http://localhost/evil.gif">'
                         '<img src="/junk.png">'
                         '<img src="/noct">'
                         '<img src="/raw">')
            else:
                body += ('<img src="data:image/svg+xml;base64,AAAA">'
                         '<img src="/photo.png?v=2">')
            return {"content_type": "text/html", "final_url": url,
                    "headers": {}, "content": body.encode()}
        if name == "a.gif":
            content, ct = make_gif(150, 150), "image/gif"
        elif name.startswith("i") and name.endswith(".gif"):
            content, ct = make_gif(160, 150), "image/gif"
        elif name == "junk.png":
            content, ct = b"junk bytes", "image/png"
        elif name == "noct":
            content, ct = make_gif(200, 200), "application/octet-stream"
        elif name == "raw":
            content, ct = make_jpeg(180, 130), "image/jpeg"
        elif name.startswith("photo.png"):
            content, ct = make_png(200, 150), "image/png"
        else:
            content, ct = b"", "application/octet-stream"
        return {"content_type": ct, "final_url": url,
                "headers": {"content-type": ct}, "content": content}

    out = urlsource.extract_from_urls(
        urls, fetch, resolver=lambda h: ["93.184.216.34"])
    ex = out.select(F.col("doc_id").alias("url"),
                    F.explode("spans").alias("span"))
    return ex.select(
        "url",
        F.col("span.offset").cast("long").alias("off"),
        F.col("span.kind").alias("kind"),
        F.coalesce(F.col("span.text"), F.col("span.media_ref"))
         .alias("content"),
    )


EXT_URL_IMAGES_SQL = """
WITH pages AS (
  SELECT doc_id, doc_id % 4 AS m,
         'http://imgs.example/page' || doc_id::VARCHAR || '.html' AS url
  FROM documents
), recs AS (
  SELECT url, 0 AS off, 'text' AS kind,
         'Page ' || doc_id::VARCHAR AS content FROM pages
  UNION ALL
  SELECT url, 1, 'media',
         '{"filename":"base64_image.png",'
         || '"path":"data:image/png;base64,[base64_data]",'
         || '"size":30218,"type":"png","width":200,"height":150}'
  FROM pages WHERE m = 0
  UNION ALL
  SELECT url, 2, 'media',
         '{"filename":"a.gif","path":"http://imgs.example/img/a.gif",'
         || '"size":14,"type":"gif","width":150,"height":150}'
  FROM pages WHERE m = 0
  UNION ALL
  SELECT url, k + 1, 'media',
         '{"filename":"i' || k::VARCHAR || '.gif",'
         || '"path":"http://imgs.example/i' || k::VARCHAR || '.gif",'
         || '"size":14,"type":"gif","width":160,"height":150}'
  FROM pages, range(20) t(k) WHERE m = 1
  UNION ALL
  SELECT url, 1, 'media',
         '{"filename":"raw.jpg","path":"http://imgs.example/raw",'
         || '"size":23,"type":"jpg","width":180,"height":130}'
  FROM pages WHERE m = 2
  UNION ALL
  SELECT url, 1, 'media',
         '{"filename":"photo.png","path":"http://imgs.example/photo.png?v=2",'
         || '"size":30218,"type":"png","width":200,"height":150}'
  FROM pages WHERE m = 3
)
SELECT url, off::BIGINT AS off, kind, content FROM recs ORDER BY url, off
"""


def ext_warc_source(spark, sf_dir):
    """WARC source (CommonCrawl packaging) through the real distributed
    pipeline: each doc becomes one WARC file whose records are built
    deterministically from doc_id, so every output row is closed-form.
    doc_id %% 5 exercises (0) a plain WARC with warcinfo + request records
    SKIPPED and a 200 text/html response taking the page-mode strip (the
    ordinal proves skipped records still advance addressing), (1) the
    CommonCrawl per-record-gzip-member packaging with a text/plain file
    download (filename derivation + byte ingestion), (2) a non-200
    response quarantined per-record, (3) a bare-LF WET-style
    ``conversion`` record (text/plain, extensionless URI -> .txt
    backfill from the MIME map), (4) a framing error (payload truncated
    against its declared Content-Length) quarantining the whole file."""
    from .bytecorpus import make_warc
    from .warcsource import extract_from_warc
    d = _t(spark, sf_dir, "documents")

    def kernel(batches: Iterator) -> Iterator:
        import pandas as pd
        for b in batches:
            rows = []
            for doc_id in b["doc_id"]:
                doc_id = int(doc_id)
                m = doc_id % 5
                if m == 0:
                    html = ("<html><head><style>p{margin:0}</style></head>"
                            "<body><nav>site chrome</nav><p>Doc "
                            f"{doc_id} body</p>"
                            "<footer>footer junk</footer></body></html>")
                    payload = make_warc([
                        {"type": "warcinfo", "body": b"software: cc"},
                        {"type": "request",
                         "uri": f"http://crawl.example/doc{doc_id}.html",
                         "body": b"GET / HTTP/1.1"},
                        {"type": "response",
                         "uri": f"http://crawl.example/doc{doc_id}.html",
                         "http_headers": {"Content-Type": "text/html"},
                         "body": html},
                    ])
                elif m == 1:
                    payload = make_warc([
                        {"type": "response",
                         "uri": f"http://crawl.example/doc{doc_id}.txt",
                         "http_headers": {"Content-Type": "text/plain"},
                         "body": f"Plain doc {doc_id} payload"},
                    ], gzip_members=True)
                elif m == 2:
                    payload = make_warc([
                        {"type": "response", "http_status": 404,
                         "uri": f"http://crawl.example/doc{doc_id}.html",
                         "body": b"not found"},
                    ])
                elif m == 3:
                    payload = make_warc([
                        {"type": "conversion",
                         "uri": f"http://crawl.example/doc{doc_id}",
                         "content_type": "text/plain",
                         "body": f"WET doc {doc_id} text"},
                    ], bare_lf=True)
                else:
                    payload = make_warc([
                        {"type": "response",
                         "uri": f"http://crawl.example/doc{doc_id}.txt",
                         "body": b"x" * 40, "truncate_by": 30},
                    ])
                rows.append((f"w{doc_id}", payload))
            yield pd.DataFrame(rows, columns=["doc_id", "content"])

    schema = StructType([
        StructField("doc_id", StringType(), False),
        StructField("content", BinaryType()),
    ])
    warcs = d.select("doc_id").mapInPandas(kernel, schema=schema)
    out = extract_from_warc(warcs)
    return out.select(
        F.col("doc_id").alias("record_id"), "status",
        F.try_element_at("spans", F.lit(1)).getField("text")
         .alias("extracted"),
    )


EXT_WARC_SOURCE_SQL = """
SELECT CASE doc_id % 5
         WHEN 0 THEN 'w' || doc_id::VARCHAR || '/2'
         WHEN 4 THEN 'w' || doc_id::VARCHAR
         ELSE 'w' || doc_id::VARCHAR || '/0'
       END AS record_id,
       CASE doc_id % 5
         WHEN 2 THEN 'error: HTTP status 404'
         WHEN 4 THEN 'error: Error processing WARC: ' ||
                     'truncated WARC record payload'
         ELSE 'ok'
       END AS status,
       CASE doc_id % 5
         WHEN 0 THEN 'Doc ' || doc_id::VARCHAR || ' body'
         WHEN 1 THEN 'Plain doc ' || doc_id::VARCHAR || ' payload'
         WHEN 3 THEN 'WET doc ' || doc_id::VARCHAR || ' text'
       END AS extracted
FROM documents ORDER BY record_id
"""


def ext_pdf_bytes(spark, sf_dir):
    """Real PDF bytes (E1 from actual FlateDecode streams): two pages per
    doc through extractors/pdfbytes.py -> pdf_page spans -> the pinned
    X-Y-cut layout kernel with [Page n] markers. Odd docs use the MODERN
    encoding (xref stream + /ObjStm-compressed page tree + indirect
    /Length, PDF >= 1.5) of the same document — the oracle is identical,
    so the hash gate proves classic/modern span equality."""
    from .bytecorpus import make_pdf, make_pdf_modern
    from .ingest import extract_from_bytes
    d = _t(spark, sf_dir, "documents")

    def builder(doc_id, text, source):
        mk = make_pdf_modern if doc_id % 2 else make_pdf
        return "r.pdf", mk([[text], ["End " + source]])

    out = extract_from_bytes(_bytes_table(d, builder))
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"), "status", "n_spans",
        F.concat_ws("\n\n", F.transform("spans", lambda s: s.text))
        .alias("extracted"),
    )


EXT_PDF_BYTES_SQL = """
SELECT doc_id, 'ok' AS status, 2 AS n_spans,
       '[Page 1]' || chr(10) || text || chr(10) || chr(10)
       || '[Page 2]' || chr(10) || 'End ' || source AS extracted
FROM documents ORDER BY doc_id
"""


def ext_validate_mime(spark, sf_dir):
    """S6 fail-closed extension<->MIME cross-check (app/utils.py:148-356):
    spoofed payloads (text bytes named .png / .zip) are quarantined with the
    reference's error message; matching payloads extract normally."""
    from .ingest import extract_from_bytes
    d = _t(spark, sf_dir, "documents")

    def builder(doc_id, text, source):
        m = doc_id % 4
        if m == 0:
            return "f.txt", text.encode("utf-8")
        if m == 1:
            return "f.png", text.encode("utf-8")        # spoofed
        if m == 2:
            return "f.html", ("<html><body><p>" + text
                              + "</p></body></html>").encode("utf-8")
        return "f.zip", text.encode("utf-8")            # spoofed
    out = extract_from_bytes(_bytes_table(d, builder), validate=True)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"), "status",
        F.try_element_at("spans", F.lit(1)).getField("text").alias("extracted"),
    )


EXT_VALIDATE_MIME_SQL = """
SELECT doc_id,
       CASE doc_id % 4
         WHEN 1 THEN 'error: File extension ''.png'' does not match its '
                     || 'content (MIME type: text/plain)'
         WHEN 3 THEN 'error: File extension ''.zip'' does not match its '
                     || 'content (MIME type: text/plain)'
         ELSE 'ok'
       END AS status,
       CASE doc_id % 4 WHEN 1 THEN NULL WHEN 3 THEN NULL ELSE text END
           AS extracted
FROM documents ORDER BY doc_id
"""


def ext_sanitize_filename(spark, sf_dir):
    """S1 upload-filename sanitization (app/utils.py:111-145) as pure column
    logic: traversal/dangerous/control characters stripped, edge dots and
    spaces trimmed, 255-char cap preserving the extension."""
    d = _t(spark, sf_dir, "documents")
    m = F.pmod("doc_id", F.lit(5))
    dirty = (
        F.when(m == 0, F.concat(F.lit("../"), F.col("source"), F.lit(".txt")))
        .when(m == 1, F.concat(F.lit("a<b>:"), F.col("source"), F.lit("|?.md")))
        .when(m == 2, F.concat(F.lit(" . "), F.col("source"), F.lit(". ")))
        .when(m == 3, F.concat(F.lit("ctl\x01"), F.col("source"),
                               F.lit("\x02.py")))
        .otherwise(F.concat(F.repeat(F.lit("x"), 300), F.lit("."),
                            F.col("source")))
    )
    x = F.regexp_replace(dirty, r"\.\.", "")
    x = F.translate(x, "/\\<>:\"|?*", "")
    x = F.regexp_replace(x, r"[\x00-\x1F]", "")
    x = F.regexp_replace(x, r"^[ .]+|[ .]+$", "")
    x = F.when(x == "", F.lit("sanitized_file")).otherwise(x)
    ext = F.regexp_extract(x, r"^.+(\.[^.]*)$", 1)
    capped = F.concat(
        F.substring(x, 1, F.lit(255) - F.length(ext)), ext)
    clean = F.when(F.length(x) > 255, capped).otherwise(x)
    return d.select(
        "doc_id", dirty.alias("dirty"), clean.alias("clean")
    ).orderBy("doc_id")


EXT_SANITIZE_FILENAME_SQL = r"""
WITH f AS (
  SELECT doc_id,
         CASE doc_id % 5
           WHEN 0 THEN '../' || source || '.txt'
           WHEN 1 THEN 'a<b>:' || source || '|?.md'
           WHEN 2 THEN ' . ' || source || '. '
           WHEN 3 THEN 'ctl' || chr(1) || source || chr(2) || '.py'
           ELSE repeat('x', 300) || '.' || source
         END AS dirty
  FROM documents
), s AS (
  SELECT doc_id, dirty,
         regexp_replace(
           regexp_replace(
             translate(replace(dirty, '..', ''), '/\<>:"|?*', ''),
             '[\x00-\x1F]', '', 'g'),
           '^[ .]+|[ .]+$', '', 'g') AS x
  FROM f
), e AS (
  SELECT doc_id, dirty,
         CASE WHEN x = '' THEN 'sanitized_file' ELSE x END AS x,
         regexp_extract(CASE WHEN x = '' THEN 'sanitized_file' ELSE x END,
                        '^.+(\.[^.]*)$', 1) AS ext
  FROM s
)
SELECT doc_id, dirty,
       CASE WHEN length(x) > 255
            THEN substr(x, 1, 255 - length(ext)) || ext
            ELSE x END AS clean
FROM e ORDER BY doc_id
"""


DEDUP_EMB_LSH_SQL = _emb_lsh_sql()


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

# Order matters: the external driver's correctness gate checks a bounded
# PREFIX of this registry (50 entries — oraclecompare.DRIVER_PREFIX), so
# entries are criticality-ranked: the byte-extraction pipeline and every
# sole-evidence curation operator sit in the first 50, and the tail holds
# only entries semantically duplicated by a prefix sibling (the boundary
# comment inside the dict lists the pairings). Two machine gates cover the
# tail anyway: tools/check_oracles.py always runs ALL entries, and
# tests/test_oracle_tail.py hash-checks every non-prefix entry on each
# pytest run.
QUERIES = {
    "extract_flagship": extract_flagship,
    "ext_pdf_bytes": ext_pdf_bytes,
    "ext_office_bytes": ext_office_bytes,
    "ext_archive_guards": ext_archive_guards,
    "ext_rar7z_fanout": ext_rar7z_fanout,
    "ext_url_source": ext_url_source,
    "ext_url_images": ext_url_images,
    "ext_warc_source": ext_warc_source,
    "ext_mail_bytes": ext_mail_bytes,
    "ext_main_content": ext_main_content,
    "ext_html_strip": ext_html_strip,
    "extract_multi_format": extract_multi_format,
    "ext_source_header": ext_source_header,
    "ext_validate_mime": ext_validate_mime,
    "mm_media_features": mm_media_features,
    "mm_audio_headers": mm_audio_headers,
    "mm_video_headers": mm_video_headers,
    "mm_ocr_gates": mm_ocr_gates,
    "mm_resize": mm_resize,
    "mm_frame_sample": mm_frame_sample,
    "dedup_bloom": dedup_bloom,
    "ta_lm_backoff": ta_lm_backoff,
    "ta_bpe": ta_bpe,
    "ta_bpe_train": ta_bpe_train,
    "ta_fixtext": ta_fixtext,
    "sample_dsir": sample_dsir,
    "url_filter": url_filter,
    "url_robots": url_robots,
    "url_sitemaps": url_sitemaps,
    "ext_sitemap": ext_sitemap,
    "ext_wet_roundtrip": ext_wet_roundtrip,
    "ext_wat_export": ext_wat_export,
    "ext_outlinks": ext_outlinks,
    "host_pagerank": host_pagerank,
    "dedup_paragraphs": dedup_paragraphs,
    "dedup_substring": dedup_substring,
    "dedup_ngram_pairs": dedup_ngram_pairs,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_incremental": dedup_incremental,
    "dedup_simhash_pairs": dedup_simhash_pairs,
    "dedup_clusters": dedup_clusters,
    "dedup_embedding_lsh": dedup_embedding_lsh,
    "decontaminate": decontaminate,
    "sim_semdedup": sim_semdedup,
    "ta_ccnet_buckets": ta_ccnet_buckets,
    "ta_classifier": ta_classifier,
    "ta_c4": ta_c4,
    "ta_bm25": ta_bm25,
    "sample_mixture": sample_mixture,
    "sim_pq": sim_pq,
    # ------------------------------------------------------------------
    # driver-prefix boundary (oraclecompare.DRIVER_PREFIX = 50): every
    # entry above gets a driver-produced CORRECTNESS row; entries below
    # are each cheap AND semantically duplicated by an earlier sibling
    # (crawl_frontier/corpus_curation compose operators gated above,
    # mm_decode_headers' decoders back mm_ocr_gates/mm_resize, sanitize/
    # extension/system-file rules run inside every byte-extraction
    # query, base64 is ext_url_images' emit path, ta_langid_multi covers
    # ta_langid, dedup_simhash_pairs covers dedup_simhash, q1/q3 cover
    # q5, events_hourly/sessions cover events_rollup, kmeans rides
    # sim_semdedup, dedup_exact's md5 groupBy is the exact tier inside
    # dedup_incremental and corpus_curation, ta_rarity's full scoring
    # chain feeds ta_ccnet_buckets' hash-gated scores verbatim,
    # ext_zip_fanout's single-scan JVM fan-out runs inside
    # extract_flagship's archive docs and ext_archive_guards gates the
    # guard arms, sample_split shares the scan-side md5-bucket
    # mechanism with sample_stratified/pack_batches, sim_pq_codes
    # feeds sim_pq's gated ADC search verbatim, dedup_url's canonical
    # key runs inside crawl_frontier's canonicalize stage) — and since
    # r6,
    # tests/test_oracle_tail.py hash-checks ALL of them on every pytest
    # run, so nothing below ships unchecked either way.
    # ------------------------------------------------------------------
    "crawl_frontier": crawl_frontier,
    "dedup_exact": dedup_exact,
    "ta_rarity": ta_rarity,
    "ext_zip_fanout": ext_zip_fanout,
    "sample_split": sample_split,
    "sim_pq_codes": sim_pq_codes,
    "dedup_url": dedup_url,
    "sample_exact_k": sample_exact_k,
    "corpus_curation": corpus_curation,
    "mm_decode_headers": mm_decode_headers,
    "ext_sanitize_filename": ext_sanitize_filename,
    "ext_sanitize_paths": ext_sanitize_paths,
    "ext_base64_source": ext_base64_source,
    "ext_extension_infer": ext_extension_infer,
    "ext_system_file_filter": ext_system_file_filter,
    "sim_cosine_topk": sim_cosine_topk,
    "sim_ann_ivf": sim_ann_ivf,
    "sim_kmeans_assign": sim_kmeans_assign,
    "sim_ann_kmeans": sim_ann_kmeans,
    "ta_gopher": ta_gopher,
    "ta_pii_scrub": ta_pii_scrub,
    "ta_langid_multi": ta_langid_multi,
    "sample_stratified": sample_stratified,
    "pack_batches": pack_batches,
    "q1_pricing_summary": q1_pricing_summary,
    "q3_top_orders": q3_top_orders,
    "events_hourly": events_hourly,
    "events_sessions": events_sessions,
    "ta_tokens": ta_tokens,
    "ta_quality": ta_quality,
    "ta_vocab": ta_vocab,
    "ta_langid": ta_langid,
    "ta_fingerprint": ta_fingerprint,
    "dedup_simhash": dedup_simhash,
    "q5_region_volume": q5_region_volume,
    "events_rollup": events_rollup,
    "part_topk_per_brand": part_topk_per_brand,
}

ORACLES = {
    "extract_flagship": EXTRACT_FLAGSHIP_SQL,
    "ext_pdf_bytes": EXT_PDF_BYTES_SQL,
    "ext_office_bytes": EXT_OFFICE_BYTES_SQL,
    "ext_zip_fanout": EXT_ZIP_FANOUT_SQL,
    "ext_archive_guards": EXT_ARCHIVE_GUARDS_SQL,
    "ext_rar7z_fanout": EXT_RAR7Z_FANOUT_SQL,
    "ext_url_source": EXT_URL_SOURCE_SQL,
    "ext_url_images": EXT_URL_IMAGES_SQL,
    "ext_warc_source": EXT_WARC_SOURCE_SQL,
    "ext_mail_bytes": EXT_MAIL_BYTES_SQL,
    "ext_main_content": EXT_MAIN_CONTENT_SQL,
    "ext_html_strip": EXT_HTML_STRIP_SQL,
    "extract_multi_format": EXTRACT_MULTI_SQL,
    "ext_base64_source": EXT_BASE64_SQL,
    "ext_source_header": EXT_SOURCE_SQL,
    "ext_extension_infer": EXT_EXTENSION_SQL,
    "ext_validate_mime": EXT_VALIDATE_MIME_SQL,
    "ext_sanitize_filename": EXT_SANITIZE_FILENAME_SQL,
    "ext_sanitize_paths": EXT_SANITIZE_SQL,
    "ext_system_file_filter": EXT_SYSFILE_SQL,
    "mm_media_features": MM_MEDIA_SQL,
    "mm_decode_headers": MM_DECODE_SQL,
    "mm_audio_headers": MM_AUDIO_SQL,
    "mm_video_headers": MM_VIDEO_SQL,
    "mm_ocr_gates": MM_OCR_GATES_SQL,
    "mm_resize": MM_RESIZE_SQL,
    "mm_frame_sample": MM_FRAME_SQL,
    "dedup_exact": DEDUP_EXACT_SQL,
    "dedup_url": DEDUP_URL_SQL,
    "dedup_bloom": DEDUP_BLOOM_SQL,
    "ta_bpe": TA_BPE_SQL,
    "ta_bpe_train": TA_BPE_TRAIN_SQL,
    "url_sitemaps": URL_SITEMAPS_SQL,
    "ta_ccnet_buckets": TA_CCNET_SQL,
    "ext_wat_export": EXT_WAT_SQL,
    "sim_pq": SIM_PQ_SQL,
    "sim_pq_codes": SIM_PQ_CODES_SQL,
    "ta_lm_backoff": TA_LM_BACKOFF_SQL,
    "sample_exact_k": SAMPLE_EXACT_K_SQL,
    "ta_fixtext": TA_FIXTEXT_SQL,
    "sample_dsir": SAMPLE_DSIR_SQL,
    "url_filter": URL_FILTER_SQL,
    "url_robots": URL_ROBOTS_SQL,
    "crawl_frontier": CRAWL_FRONTIER_SQL,
    "ext_sitemap": EXT_SITEMAP_SQL,
    "ext_wet_roundtrip": EXT_WET_SQL,
    "ext_outlinks": EXT_OUTLINKS_SQL,
    "host_pagerank": HOST_PAGERANK_SQL,
    "dedup_paragraphs": DEDUP_PARAGRAPHS_SQL,
    "dedup_substring": DEDUP_SUBSTRING_SQL,
    "dedup_ngram_pairs": DEDUP_NGRAM_SQL,
    "dedup_minhash_lsh": DEDUP_MINHASH_SQL,
    "dedup_incremental": DEDUP_INCREMENTAL_SQL,
    "dedup_simhash_pairs": DEDUP_SIMHASH_PAIRS_SQL,
    "dedup_clusters": DEDUP_CLUSTERS_SQL,
    "dedup_embedding_lsh": DEDUP_EMB_LSH_SQL,
    "corpus_curation": CORPUS_CURATION_SQL,
    "decontaminate": DECONTAMINATE_SQL,
    "sim_cosine_topk": SIM_TOPK_SQL,
    "sim_ann_ivf": SIM_ANN_IVF_SQL,
    "sim_kmeans_assign": SIM_KMEANS_ASSIGN_SQL,
    "sim_ann_kmeans": SIM_ANN_KMEANS_SQL,
    "sim_semdedup": SIM_SEMDEDUP_SQL,
    "ta_gopher": TA_GOPHER_SQL,
    "ta_pii_scrub": TA_PII_SCRUB_SQL,
    "ta_rarity": TA_RARITY_SQL,
    "ta_classifier": TA_CLASSIFIER_SQL,
    "ta_c4": TA_C4_SQL,
    "ta_bm25": TA_BM25_SQL,
    "ta_langid_multi": _langid_multi_sql(),
    "sample_stratified": SAMPLE_STRATIFIED_SQL,
    "sample_mixture": SAMPLE_MIXTURE_SQL,
    "sample_split": SAMPLE_SPLIT_SQL,
    "pack_batches": PACK_BATCHES_SQL,
    "q1_pricing_summary": Q1_SQL,
    "q3_top_orders": Q3_SQL,
    "events_hourly": EVENTS_HOURLY_SQL,
    "events_sessions": EVENTS_SESSIONS_SQL,
    "ta_tokens": TA_TOKENS_SQL,
    "ta_quality": TA_QUALITY_SQL,
    "ta_vocab": TA_VOCAB_SQL,
    "ta_langid": TA_LANGID_SQL,
    "ta_fingerprint": TA_FINGERPRINT_SQL,
    "dedup_simhash": DEDUP_SIMHASH_SQL,
    "q5_region_volume": Q5_SQL,
    "events_rollup": EVENTS_ROLLUP_SQL,
    "part_topk_per_brand": PART_TOPK_SQL,
}

# The driver gate reads a bounded PREFIX of both dicts, so their order
# must match QUERIES' criticality ranking exactly — re-key structurally
# instead of maintaining the order by hand in two places (KeyError here
# means a query/oracle pair is missing; test_entry_contract pins both).
ORACLES = {name: ORACLES[name] for name in QUERIES}
