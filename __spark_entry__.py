"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query smoke check at sf0.001.
``queries()`` — one entry per implemented operator from SURVEY.md §2.
``oracle_sql()`` — DuckDB-equivalent ANSI SQL per query.

Column-name + rounding discipline: every computed column is aliased
identically on both sides; double-valued aggregates are rounded (2–6
decimals) on both sides so engine-order-dependent FP summation cannot
flip the driver's value hash.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

SF0001 = "/root/testdata/sf0.001"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _spread(df: DataFrame) -> DataFrame:
    """Redistribute a degenerate scan before a compute-heavy map stage.

    The sandbox test tables are single-row-group parquet files, so a
    scan is ONE input split and every downstream map stage (sha256 per
    shingle, pandas-UDF kernels) runs on one core until the first
    shuffle. A real 100 TB table has thousands of row groups and never
    needs this — hence the guard: only repartition when the scan's
    split count is below the cluster's parallelism, so at scale this is
    the identity and no extra exchange appears in the plan."""
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df


# ----------------------------------------------------------------------
# Flagship: pricing summary (A1/A-family aggregation; TPC-H Q1 shape)
# ----------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_SQL_PRICING = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       ROUND(AVG(l_discount), 6) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# ----------------------------------------------------------------------
# Q2/K1 — frontier dequeue ordering (priority DESC, run_at, seq) top-K
# (reference server/services/jobs.py:259). orders stands in: priority
# derived from o_orderpriority, run_at = o_orderdate, seq = o_orderkey.
# ----------------------------------------------------------------------

def q_dequeue_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    pri = (6 - F.substring("o_orderpriority", 1, 1).cast("int")).alias("priority")
    batch = (
        orders.select("o_orderkey", "o_orderdate", pri)
        .orderBy(F.col("priority").desc(), F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .limit(100)
    )
    w = Window.orderBy(F.col("priority").desc(), F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
    return batch.withColumn("crawl_rank", F.row_number().over(w).cast("long"))


_SQL_DEQUEUE = """
SELECT o_orderkey, o_orderdate,
       6 - CAST(substr(o_orderpriority, 1, 1) AS INT) AS priority,
       CAST(ROW_NUMBER() OVER (ORDER BY 6 - CAST(substr(o_orderpriority,1,1) AS INT) DESC,
                               o_orderdate ASC, o_orderkey ASC) AS BIGINT) AS crawl_rank
FROM orders
ORDER BY crawl_rank
LIMIT 100
"""


# ----------------------------------------------------------------------
# W1/J2 — latest-per-key (DISTINCT ON analog; reference server/app.py:799-803)
# ----------------------------------------------------------------------

def q_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", F.col("event_id").alias("last_event_id"), F.col("ts").alias("last_ts"),
                F.col("event_type").alias("last_type"))
    )


_SQL_LATEST_EVENT = """
SELECT user_id, event_id AS last_event_id, ts AS last_ts, event_type AS last_type
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
WHERE rn = 1
"""


# ----------------------------------------------------------------------
# W2 — top-N per group (reference .github/workflows/nightly.yml:108-118)
# ----------------------------------------------------------------------

def q_top2_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_orderdate").desc_nulls_last(), F.col("o_orderkey").desc())
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 2)
        .select("o_custkey", "o_orderkey", "o_orderdate", F.col("rn").cast("long").alias("rn"))
    )


_SQL_TOP2 = """
SELECT o_custkey, o_orderkey, o_orderdate, CAST(rn AS BIGINT) AS rn
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate DESC NULLS LAST, o_orderkey DESC) AS rn
      FROM orders)
WHERE rn <= 2
"""


# ----------------------------------------------------------------------
# J3 — anti-join (reference server/ingest/transcripts.py:104-110)
# ----------------------------------------------------------------------

def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti").select("c_custkey", "c_name")


_SQL_NO_ORDERS = """
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


# ----------------------------------------------------------------------
# J6 — lateral-count join (reference server/ui/__init__.py:80-84)
# ----------------------------------------------------------------------

def q_customer_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    counts = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        c.join(counts, c["c_custkey"] == counts["o_custkey"], "left")
        .select("c_custkey", F.coalesce(F.col("cnt"), F.lit(0)).cast("long").alias("order_count"))
    )


_SQL_ORDER_COUNTS = """
SELECT c_custkey,
       CAST(COALESCE((SELECT COUNT(*) FROM orders o WHERE o.o_custkey = c.c_custkey), 0) AS BIGINT) AS order_count
FROM customer c
"""


# ----------------------------------------------------------------------
# F12/K6 — ILIKE search with recency cap (reference server/app.py:962-1021)
# ----------------------------------------------------------------------

def q_search_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    return (
        p.where(F.lower(F.col("p_name")).contains("red"))
        .orderBy(F.col("p_partkey").asc())
        .limit(20)
        .select("p_partkey", "p_name", "p_type")
    )


_SQL_SEARCH_PARTS = """
SELECT p_partkey, p_name, p_type FROM part
WHERE p_name ILIKE '%red%' ORDER BY p_partkey ASC LIMIT 20
"""


# ----------------------------------------------------------------------
# Q4/X24 — retry backoff base math (reference server/services/jobs.py:121-134)
# (the jittered variant is deterministic-seeded and covered by pytest;
#  the clamp envelope is the SQL-expressible part)
# ----------------------------------------------------------------------

def q_retry_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    attempts = (F.col("event_id") % 5).cast("int").alias("attempts")
    base = F.greatest(F.lit(30), F.least((F.col("event_id") % 5) * 60, F.lit(3600))).cast("long")
    return ev.select("event_id", attempts, base.alias("backoff_base_sec"))


_SQL_BACKOFF = """
SELECT event_id, CAST(event_id % 5 AS INT) AS attempts,
       CAST(GREATEST(30, LEAST((event_id % 5) * 60, 3600)) AS BIGINT) AS backoff_base_sec
FROM events
"""


# ----------------------------------------------------------------------
# X9/Q5 — sha256 fingerprints (reference server/services/jobs.py:166-182)
# ----------------------------------------------------------------------

def q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    msg = F.concat_ws(":", F.lit("evt"), F.col("event_id").cast("string"), F.col("event_type"))
    return ev.select("event_id", F.sha2(msg, 256).alias("fingerprint"))


_SQL_FINGERPRINTS = """
SELECT event_id, sha256('evt:' || CAST(event_id AS VARCHAR) || ':' || event_type) AS fingerprint
FROM events
"""


# ----------------------------------------------------------------------
# X6/A7/D4 — normalise + dedup-with-min (reference
# worker/claim_extraction.py:312-316; server/services/claims.py:55-73)
# ----------------------------------------------------------------------

def q_normalise_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9\s]", ""), r"\s+", " "))
    return (
        d.select(F.sha2(norm, 256).alias("norm_key"), "doc_id")
        .groupBy("norm_key")
        .agg(F.min("doc_id").alias("primary_id"), F.count(F.lit(1)).alias("dup_count"))
    )


_SQL_NORM_DEDUP = r"""
SELECT sha256(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))) AS norm_key,
       MIN(doc_id) AS primary_id, COUNT(*) AS dup_count
FROM documents GROUP BY 1
"""


# ----------------------------------------------------------------------
# A5 — word-frequency scoring (reference server/ingest/summaries.py:32-45)
# ----------------------------------------------------------------------

def q_word_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word"))
        .where(F.length("word") > 3)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("word").asc())
        .limit(20)
    )


_SQL_WORD_FREQ = r"""
SELECT word, COUNT(*) AS cnt
FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS word FROM documents)
WHERE length(word) > 3
GROUP BY word ORDER BY cnt DESC, word ASC LIMIT 20
"""


# ----------------------------------------------------------------------
# X18 — risk-level tiers (reference worker/claim_extraction.py:326-333)
# ----------------------------------------------------------------------

def q_risk_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from podcast_plow_spark.functions.text import risk_level_col

    d = _t(spark, sf_dir, "documents")
    # r6: materialize lower(text) once — the rlike tiers are CASE WHEN
    # branches, each of which would otherwise re-lowercase the full text
    lowered = d.select(F.lower(F.col("text")).alias("__lt"))
    return (
        lowered.select(risk_level_col(F.col("__lt")).alias("risk_level"))
        .groupBy("risk_level")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("risk_level")
    )


_SQL_RISK = r"""
SELECT CASE
         WHEN regexp_matches(lower(text), '\b(?:cures?|eliminates|guarantees)\b') THEN 'high'
         WHEN regexp_matches(lower(text), '\b(?:may|might|could|suggests?)\b') THEN 'low'
         WHEN regexp_matches(lower(text), '\b(?:reduces?|lowers?|decreases?|improves?|enhances?|raises?|increases?)\b') THEN 'medium'
         ELSE 'medium'
       END AS risk_level, COUNT(*) AS n
FROM documents GROUP BY 1 ORDER BY risk_level
"""


# ----------------------------------------------------------------------
# A3 — grade-aggregation decision tree (reference server/services/grader.py:137-195)
# events as pseudo-evidence: claim = user_id % 100, stance/type derived.
# ----------------------------------------------------------------------

def q_grade_claims(spark: SparkSession, sf_dir: str) -> DataFrame:
    from podcast_plow_spark.operators.grade import grade_claims

    ev = _t(spark, sf_dir, "events")
    pseudo = ev.select(
        (F.col("user_id") % 100).alias("claim_id"),
        F.when(F.col("event_type").isin("purchase", "signup"), F.lit("supports"))
        .when(F.col("event_type") == "error", F.lit("refutes"))
        .otherwise(F.lit("neutral"))
        .alias("stance"),
        F.when(F.col("value") >= 400, F.lit("meta-analysis"))
        .when(F.col("value") >= 300, F.lit("randomized controlled trial"))
        .when(F.col("value") >= 100, F.lit("cohort study"))
        .otherwise(F.lit("in vitro study"))
        .alias("type"),
    )
    return grade_claims(pseudo).select("claim_id", "total_support", "total_refute", "grade").orderBy("claim_id")


_SQL_GRADE = """
WITH pseudo AS (
  SELECT user_id % 100 AS claim_id,
         CASE WHEN event_type IN ('purchase','signup') THEN 'supports'
              WHEN event_type = 'error' THEN 'refutes' ELSE 'neutral' END AS stance,
         CASE WHEN value >= 400 THEN 'meta'
              WHEN value >= 300 THEN 'rct'
              WHEN value >= 100 THEN 'observational'
              ELSE 'weak' END AS bucket
  FROM events
), agg AS (
  SELECT claim_id,
         CAST(SUM(CASE WHEN stance='supports' AND bucket='meta' THEN 1 ELSE 0 END) AS BIGINT) AS s_meta,
         CAST(SUM(CASE WHEN stance='supports' AND bucket='rct' THEN 1 ELSE 0 END) AS BIGINT) AS s_rct,
         CAST(SUM(CASE WHEN stance='supports' AND bucket='observational' THEN 1 ELSE 0 END) AS BIGINT) AS s_obs,
         CAST(SUM(CASE WHEN stance='supports' AND bucket='weak' THEN 1 ELSE 0 END) AS BIGINT) AS s_weak,
         CAST(SUM(CASE WHEN stance='refutes' THEN 1 ELSE 0 END) AS BIGINT) AS total_refute
  FROM pseudo GROUP BY claim_id
)
SELECT claim_id, s_meta + s_rct + s_obs + s_weak AS total_support, total_refute,
       CASE WHEN s_meta + s_rct + s_obs + s_weak = 0 THEN 'unsupported'
            WHEN total_refute > s_meta + s_rct + s_obs + s_weak THEN 'unsupported'
            WHEN s_meta >= 1 OR s_rct >= 2 THEN 'strong'
            WHEN s_rct >= 1 THEN 'moderate'
            WHEN s_obs >= 2 THEN 'moderate'
            WHEN s_obs >= 1 OR s_weak >= 1 THEN 'weak'
            ELSE 'unsupported' END AS grade
FROM agg ORDER BY claim_id
"""


# ----------------------------------------------------------------------
# X11 — JSON payload parse-with-fallback (reference server/services/jobs.py:95-110)
# ----------------------------------------------------------------------

def q_json_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        ev.select("event_type", F.coalesce(k, F.lit(0)).alias("k"))
        .groupBy("event_type")
        .agg(F.round(F.avg("k"), 4).alias("avg_k"), F.count(F.lit(1)).alias("n"))
        .orderBy("event_type")
    )


_SQL_JSON = """
SELECT event_type, ROUND(AVG(COALESCE(CAST(json_extract_string(props, '$.k') AS INT), 0)), 4) AS avg_k,
       COUNT(*) AS n
FROM events GROUP BY event_type ORDER BY event_type
"""


# ----------------------------------------------------------------------
# Similarity — brute-force cosine top-k over embeddings (training-data op)
# BLAS-vectorized mapInPandas with broadcast corpus (see
# podcast_plow_spark/operators/similarity.py for the 100 TB LSH path).
# ----------------------------------------------------------------------

def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from podcast_plow_spark.operators.similarity import cosine_topk_pairs

    emb = _t(spark, sf_dir, "embeddings")
    return cosine_topk_pairs(spark, _spread(emb), "vec_id", "embedding", k=50)


_SQL_COSINE = """
SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 4) AS cos_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
ORDER BY cos_sim DESC, a_id ASC, b_id ASC
LIMIT 50
"""


# ----------------------------------------------------------------------
# Text analysis — token counts + uniqueness ratio (training-data op)
# ----------------------------------------------------------------------

def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring + token counting fused at the same per-doc grain
    (one scan; the BPE-ish regex count was a separate query until the
    driver's 50-row CORRECTNESS cap forced consolidation — COVERAGE.md
    'driver cap' note)."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    bpe = F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0))
    return d.select(
        "doc_id",
        F.size(toks).cast("long").alias("token_count"),
        F.round(F.size(F.array_distinct(toks)).cast("double") / F.size(toks), 4).alias("uniq_ratio"),
        bpe.cast("long").alias("bpe_tokens"),
    )


_SQL_DOC_QUALITY = r"""
SELECT doc_id,
       CAST(length(string_split_regex(trim(text), '\s+')) AS BIGINT) AS token_count,
       ROUND(CAST(length(list_distinct(string_split_regex(trim(text), '\s+'))) AS DOUBLE)
             / length(string_split_regex(trim(text), '\s+')), 4) AS uniq_ratio,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS bpe_tokens
FROM documents
"""


# ----------------------------------------------------------------------
# Dedup family (training-data ops; podcast_plow_spark/operators/dedup.py)
# ----------------------------------------------------------------------

_SQL_SHINGLES_CTE = r"""
WITH sh AS (
  SELECT DISTINCT doc_id, array_to_string(toks[s:s+2], ' ') AS shingle
  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
       LATERAL (SELECT unnest(generate_series(1, greatest(0, len(toks)-2))) AS s)
)
"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # df_cap=100: stop-phrase shingles (df > 100) are excluded from
    # candidate generation — the cap is mirrored EXACTLY in the oracle
    # SQL below, so the correctness gate checks the capped semantics.
    from podcast_plow_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _spread(_t(spark, sf_dir, "documents")), k_shingle=3, jaccard_threshold=0.5, df_cap=100
    )


_SQL_NGRAM_JACCARD = _SQL_SHINGLES_CTE + """
, ok_sh AS (  -- df-cap 100: same hot-shingle exclusion as the Spark operator
  SELECT doc_id, shingle FROM sh
  WHERE shingle IN (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 100)
),
cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM ok_sh a JOIN ok_sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
common AS (  -- exact verify against the FULL shingle sets
  SELECT c.a_id, c.b_id, CAST(COUNT(*) AS BIGINT) AS n_common
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.a_id
  JOIN sh sb ON sb.doc_id = c.b_id AND sb.shingle = sa.shingle
  GROUP BY 1, 2
)
SELECT a_id, b_id, ROUND(n_common * 1.0 / (na.n_sh + nb.n_sh - n_common), 4) AS jaccard
FROM common JOIN sizes na ON na.doc_id = a_id JOIN sizes nb ON nb.doc_id = b_id
WHERE ROUND(n_common * 1.0 / (na.n_sh + nb.n_sh - n_common), 4) >= 0.5
"""


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from podcast_plow_spark.operators.dedup import simhash64

    return simhash64(_spread(_t(spark, sf_dir, "documents")))


def _simhash_oracle_sql() -> str:
    votes = ",\n".join(
        f"SUM(CASE WHEN (h >> {bit}) & 1 = 1 THEN 1 ELSE -1 END) AS v{bit}" for bit in range(60)
    )
    fp = " + ".join(f"(CASE WHEN v{bit} > 0 THEN CAST({2**bit} AS BIGINT) ELSE 0 END)" for bit in range(60))
    return rf"""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(string_split_regex(trim(text), '\s+'))) AS tok
  FROM documents
), hashed AS (
  SELECT doc_id, CAST('0x' || substr(sha256(tok), 1, 15) AS BIGINT) AS h
  FROM toks WHERE tok <> ''
), agg AS (
  SELECT doc_id, {votes} FROM hashed GROUP BY doc_id
)
SELECT doc_id, {fp} AS simhash FROM agg
"""


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    from podcast_plow_spark.operators.dedup import minhash_signatures, word_shingles

    sh = word_shingles(_spread(_t(spark, sf_dir, "documents")), k=3)
    return minhash_signatures(sh, num_hashes=16, seed=42)


def _minhash_oracle_sql() -> str:
    from podcast_plow_spark.operators.dedup import MINHASH_P, _affine_params

    cols = ",\n".join(
        f"MIN((h * {a} + {b}) % {MINHASH_P}) AS mh{i}" for i, (a, b) in enumerate(_affine_params(16, 42))
    )
    return (
        _SQL_SHINGLES_CTE
        + f"""
, hashed AS (
  SELECT doc_id, CAST('0x' || substr(sha256(shingle), 1, 15) AS BIGINT) % {MINHASH_P} AS h FROM sh
)
SELECT doc_id, {cols} FROM hashed GROUP BY doc_id
"""
    )


def q_minhash_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs, exact-verified — now ORACLE-checked:
    the banding (band signature = '_'-concat of the band's minhash
    values, candidate = bucket equi-join, exact-Jaccard verify) is
    fully SQL-expressible; the DuckDB oracle enumerates the same
    affine permutation constants. bucket_cap=100 mirrored in SQL."""
    from podcast_plow_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(
        _spread(_t(spark, sf_dir, "documents")),
        k_shingle=3,
        num_hashes=16,
        n_bands=4,
        jaccard_threshold=0.5,
        bucket_cap=100,
    )


def _minhash_lsh_oracle_sql(num_hashes: int = 16, n_bands: int = 4, bucket_cap: int = 100) -> str:
    """DuckDB mirror of minhash_lsh_pairs: same shingles, same affine
    minhash constants, same '_'-joined band signatures, same bucket
    cap, same exact-verify — byte-equal jaccard at 4 dp."""
    from podcast_plow_spark.operators.dedup import MINHASH_P, _affine_params

    rows_per_band = num_hashes // n_bands
    mh_cols = ",\n".join(
        f"MIN((h * {a} + {b}) % {MINHASH_P}) AS mh{i}"
        for i, (a, b) in enumerate(_affine_params(num_hashes, 42))
    )
    band_selects = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {band} AS band, {concat} AS bsig FROM sig".format(
            band=b,
            concat=" || '_' || ".join(
                f"CAST(mh{b * rows_per_band + r} AS VARCHAR)" for r in range(rows_per_band)
            ),
        )
        for b in range(n_bands)
    )
    return (
        _SQL_SHINGLES_CTE
        + f"""
, hashed AS (
  SELECT doc_id, CAST('0x' || substr(sha256(shingle), 1, 15) AS BIGINT) % {MINHASH_P} AS h FROM sh
),
sig AS (SELECT doc_id, {mh_cols} FROM hashed GROUP BY doc_id),
bands AS (
{band_selects}
),
ok_bands AS (  -- bucket_cap {bucket_cap}: degenerate buckets excluded, as in Spark
  SELECT doc_id, band, bsig FROM bands
  WHERE (band, bsig) IN (SELECT (band, bsig) FROM bands GROUP BY band, bsig HAVING COUNT(*) <= {bucket_cap})
),
cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM ok_bands a JOIN ok_bands b ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
common AS (
  SELECT c.a_id, c.b_id, CAST(COUNT(*) AS BIGINT) AS n_common
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.a_id
  JOIN sh sb ON sb.doc_id = c.b_id AND sb.shingle = sa.shingle
  GROUP BY 1, 2
)
SELECT a_id, b_id, ROUND(n_common * 1.0 / (na.n_sh + nb.n_sh - n_common), 4) AS jaccard
FROM common JOIN sizes na ON na.doc_id = a_id JOIN sizes nb ON nb.doc_id = b_id
WHERE ROUND(n_common * 1.0 / (na.n_sh + nb.n_sh - n_common), 4) >= 0.5
"""
    )


def _phash_fixture_col():
    """Deterministic synthetic phash per document — the image+caption
    stand-in the oracle can reproduce: docs sharing ``doc_id % 100``
    form a near-dup family (same sha-derived 60-bit base hash, one
    family-unique bit flipped per non-base member → pairwise Hamming
    ≤ 2), while cross-family hashes differ in ~30 bits. Engine-
    independent: sha256 hex → int64, bit ops only."""
    from pyspark.sql import functions as F

    grp = (F.col("doc_id") % 100).cast("string")
    base = F.conv(F.substring(F.sha2(grp, 256), 1, 15), 16, 10).cast("long")
    flip = F.expr(
        "CASE WHEN doc_id >= 100 THEN "
        "shiftleft(cast(1 as bigint), cast(((doc_id div 100) * 13 + doc_id % 100) % 60 as int)) "
        "ELSE cast(0 as bigint) END"
    )
    return base.bitwiseXOR(flip).alias("phash")


def q_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup via perceptual-hash banding (the multimodal
    MinHash-LSH analog; operators/dedup.py:phash_near_dup_pairs).
    16-bit bands over the 64-bit phash → bucket equi-join → exact
    bit_count(xor) Hamming rerank ≤ 8."""
    from podcast_plow_spark.operators.dedup import phash_near_dup_pairs

    imgs = _spread(_t(spark, sf_dir, "documents")).select(
        F.col("doc_id").alias("image_id"), _phash_fixture_col()
    )
    return phash_near_dup_pairs(
        imgs, id_col="image_id", phash_col="phash", n_bands=4, bits_per_band=16,
        max_hamming=8, band_cap=200,
    )


def _phash_near_dup_oracle_sql(n_bands: int = 4, bits_per_band: int = 16, band_cap: int = 200) -> str:
    """DuckDB mirror: same sha-derived phash fixture, same 16-bit band
    keys, same band cap, same exact Hamming verify."""
    band_selects = "\n  UNION ALL\n".join(
        f"  SELECT image_id, phash, {b} AS band, (phash >> {b * bits_per_band}) & {(1 << bits_per_band) - 1} AS bkey FROM imgs"
        for b in range(n_bands)
    )
    return f"""
WITH imgs AS (
  SELECT doc_id AS image_id,
         xor(CAST('0x' || substr(sha256(CAST(doc_id % 100 AS VARCHAR)), 1, 15) AS BIGINT),
             CASE WHEN doc_id >= 100
                  THEN CAST(1 AS BIGINT) << CAST((((doc_id // 100) * 13 + doc_id % 100) % 60) AS INTEGER)
                  ELSE 0 END) AS phash
  FROM documents
),
bands AS (
{band_selects}
),
ok_bands AS (
  SELECT image_id, phash, band, bkey FROM bands
  WHERE (band, bkey) IN (SELECT (band, bkey) FROM bands GROUP BY band, bkey HAVING COUNT(*) <= {band_cap})
)
SELECT DISTINCT a.image_id AS a_id, b.image_id AS b_id,
       CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS hamming
FROM ok_bands a JOIN ok_bands b ON a.band = b.band AND a.bkey = b.bkey AND a.image_id < b.image_id
WHERE bit_count(xor(a.phash, b.phash)) <= 8
"""


def q_lsh_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN (scale path) — now ORACLE-checked: the seeded
    hyperplane matrix is enumerated INLINE into the generated DuckDB
    SQL, so banding (sign-bit buckets), the bucket equi-join, and the
    exact cosine rerank are replayed verbatim on the oracle side.
    Recall-vs-bruteforce floor additionally asserted in
    tests/test_similarity.py."""
    from podcast_plow_spark.operators.similarity import lsh_cosine_topk_pairs

    return lsh_cosine_topk_pairs(spark, _spread(_t(spark, sf_dir, "embeddings")), k=50)


def q_ivf_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN tier (brief: "IVF or LSH-bucketed variant as the scale
    path" — this engine ships BOTH): seeded-random coarse quantizer,
    n_probe=2 multi-assignment, inverted-file equi-join candidates,
    exact cosine rerank. Oracle replays the identical centroids and
    first-index-of-max assignment in SQL."""
    from podcast_plow_spark.operators.similarity import ivf_cosine_topk_pairs

    return ivf_cosine_topk_pairs(
        spark, _spread(_t(spark, sf_dir, "embeddings")), k=50, n_cells=8, n_probe=3, seed=7
    )


def _ivf_cosine_oracle_sql(
    k: int = 50, n_cells: int = 8, n_probe: int = 3, seed: int = 7, dim: int = 64
) -> str:
    """DuckDB mirror of ivf_cosine_topk_pairs: same seeded centroids
    (normalized, full-precision literals), same argmax-with-first-index
    tie rule (list_position), same masked successive probes, same
    candidate join and 4-dp rounded rerank."""
    import numpy as np

    from podcast_plow_spark.operators.similarity import ivf_cells

    rng = np.random.default_rng(seed)
    cents = ivf_cells(rng.standard_normal((n_cells, dim)))

    def cent_lit(i: int) -> str:
        return "[" + ", ".join(repr(float(x)) for x in cents[i]) + "]"

    sims_list = "[" + ",\n    ".join(
        f"list_cosine_similarity(e, {cent_lit(i)})" for i in range(n_cells)
    ) + "]"

    # probe j masks the already-taken cells with -1e9 (explicit per-slot
    # CASE — same first-index-of-max rule as numpy argmax after masking)
    def masked(j: int) -> str:
        taken = " OR ".join(f"{{i}} = cell{p}" for p in range(1, j))
        return "[" + ", ".join(
            f"CASE WHEN {taken.format(i=i)} THEN -1e9 ELSE s[{i + 1}] END" for i in range(n_cells)
        ) + "]"

    probe_ctes = [
        """p1 AS (
  SELECT vec_id, e, s,
         CAST(list_position(s, list_aggregate(s, 'max')) - 1 AS BIGINT) AS cell1
  FROM sims
)"""
    ]
    for j in range(2, n_probe + 1):
        mj = masked(j)
        prev_cells = ", ".join(f"cell{p}" for p in range(1, j))
        probe_ctes.append(
            f"""p{j} AS (
  SELECT vec_id, e, s, {prev_cells},
         CAST(list_position({mj}, list_aggregate({mj}, 'max')) - 1 AS BIGINT) AS cell{j}
  FROM p{j - 1}
)"""
        )
    cells_union = "\n  UNION ALL\n".join(
        f"  SELECT vec_id, cell{p} AS cell FROM p{n_probe}" for p in range(1, n_probe + 1)
    )
    return f"""
WITH e0 AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
),
sims AS (
  SELECT vec_id, e, {sims_list} AS s FROM e0
),
{", ".join(probe_ctes)},
cells AS (
{cells_union}
),
cand AS (
  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
  FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
)
SELECT c.a_id, c.b_id,
       ROUND(list_cosine_similarity(ea.e, eb.e), 4) AS cos_sim
FROM cand c JOIN e0 ea ON ea.vec_id = c.a_id JOIN e0 eb ON eb.vec_id = c.b_id
ORDER BY cos_sim DESC, a_id ASC, b_id ASC
LIMIT {k}
"""


def _lsh_cosine_oracle_sql(k: int = 50, n_planes: int = 16, n_bands: int = 4, seed: int = 42, dim: int = 64) -> str:
    """DuckDB mirror of lsh_cosine_topk_pairs: the same seeded-numpy
    hyperplanes (full-precision literals), same band/bucket bit packing
    (bit r of band b = sign of plane b·rpb+r), same candidate join and
    4-dp rounded cosine rerank with id tiebreaks."""
    import numpy as np

    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim))
    rows_per_band = n_planes // n_bands

    def plane_lit(i: int) -> str:
        return "[" + ", ".join(repr(float(x)) for x in planes[i]) + "]"

    def bucket_expr(b: int) -> str:
        terms = [
            f"(CASE WHEN list_dot_product(e, {plane_lit(b * rows_per_band + r)}) >= 0 "
            f"THEN {1 << r} ELSE 0 END)"
            for r in range(rows_per_band)
        ]
        return "CAST(" + " + ".join(terms) + " AS BIGINT)"

    band_selects = "\n  UNION ALL\n".join(
        f"  SELECT vec_id, {b} AS band, {bucket_expr(b)} AS bucket FROM e0"
        for b in range(n_bands)
    )
    return f"""
WITH e0 AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
),
bands AS (
{band_selects}
),
cand AS (
  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
  FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT c.a_id, c.b_id,
       ROUND(list_cosine_similarity(ea.e, eb.e), 4) AS cos_sim
FROM cand c JOIN e0 ea ON ea.vec_id = c.a_id JOIN e0 eb ON eb.vec_id = c.b_id
ORDER BY cos_sim DESC, a_id ASC, b_id ASC
LIMIT {k}
"""


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup — the fifth dedup family (exact /
    MinHash-LSH / SimHash / n-gram Jaccard / embedding cosine), each
    oracle-checked per the brief. Dedup-shaped (every pair above the
    threshold), not ranking-shaped like lsh_cosine_topk: same seeded
    hyperplane candidate generation, bucket-capped, exact rounded
    cosine ≥ τ. τ=0.40 sits just under the synthetic corpus's max
    pairwise cosine (~0.51 — random Gaussians, no planted dups) so the
    answer is non-vacuous at every SF."""
    from podcast_plow_spark.operators.similarity import embedding_near_dup_pairs

    return embedding_near_dup_pairs(spark, _spread(_t(spark, sf_dir, "embeddings")), threshold=0.40)


def _embedding_near_dup_oracle_sql(
    threshold: float = 0.40,
    n_planes: int = 16,
    n_bands: int = 4,
    seed: int = 42,
    bucket_cap: int = 200,
    dim: int = 64,
) -> str:
    """DuckDB mirror of embedding_near_dup_pairs: identical seeded
    hyperplanes (full-precision literals), band/bucket packing,
    HAVING-capped buckets (== _drop_hot_keys), candidate equi-join,
    and the threshold applied to the 4-dp ROUNDED cosine on both
    engines so the boundary is reproducible."""
    import numpy as np

    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim))
    rows_per_band = n_planes // n_bands

    def plane_lit(i: int) -> str:
        return "[" + ", ".join(repr(float(x)) for x in planes[i]) + "]"

    def bucket_expr(b: int) -> str:
        terms = [
            f"(CASE WHEN list_dot_product(e, {plane_lit(b * rows_per_band + r)}) >= 0 "
            f"THEN {1 << r} ELSE 0 END)"
            for r in range(rows_per_band)
        ]
        return "CAST(" + " + ".join(terms) + " AS BIGINT)"

    band_selects = "\n  UNION ALL\n".join(
        f"  SELECT vec_id, {b} AS band, {bucket_expr(b)} AS bucket FROM e0"
        for b in range(n_bands)
    )
    return f"""
WITH e0 AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
),
bands AS (
{band_selects}
),
ok AS (
  SELECT * FROM bands
  WHERE (band, bucket) IN (
    SELECT (band, bucket) FROM bands GROUP BY band, bucket HAVING COUNT(*) <= {bucket_cap})
),
cand AS (
  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
  FROM ok a JOIN ok b ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT c.a_id, c.b_id,
       ROUND(list_cosine_similarity(ea.e, eb.e), 4) AS cos_sim
FROM cand c JOIN e0 ea ON ea.vec_id = c.a_id JOIN e0 eb ON eb.vec_id = c.b_id
WHERE ROUND(list_cosine_similarity(ea.e, eb.e), 4) >= {threshold}
"""


# ----------------------------------------------------------------------
# Batch 2 — windows, scheduling variants, text kernels, training ops
# ----------------------------------------------------------------------


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 sliding token chunks (reference server/services/chunker.py:68-103)."""
    from podcast_plow_spark.operators.windows import chunk_tokens

    d = _t(spark, sf_dir, "documents")
    out = chunk_tokens(d, "doc_id", "text", max_tokens=50, overlap_ratio=0.1)
    return out.select(
        "doc_id",
        F.col("chunk_index").cast("int").alias("chunk_index"),
        F.col("token_start").cast("long").alias("token_start"),
        F.col("token_end").cast("long").alias("token_end"),
        F.col("token_count").cast("long").alias("token_count"),
        "text",
    )


_SQL_CHUNKS = r"""
WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
s AS (SELECT doc_id, toks, len(toks) AS n,
             unnest(generate_series(0, greatest(len(toks) - 1, 0), 45)) AS token_start
      FROM t)
SELECT doc_id,
       CAST(token_start / 45 AS INT) AS chunk_index,
       CAST(token_start AS BIGINT) AS token_start,
       CAST(LEAST(token_start + 50, n) AS BIGINT) AS token_end,
       CAST(LEAST(token_start + 50, n) - token_start AS BIGINT) AS token_count,
       array_to_string(list_slice(toks, token_start + 1, token_start + 50), ' ') AS text
FROM s
WHERE (token_start = 0 OR token_start < n) AND LEAST(token_start + 50, n) - token_start > 0
"""


def q_budgeted_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K5 greedy budget selection (reference server/ingest/summaries.py:48-74)."""
    from podcast_plow_spark.operators.windows import budgeted_top_k

    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    base = d.select("doc_id", F.col("n_chars").cast("double").alias("score"), F.size(toks).cast("long").alias("words"))
    out = budgeted_top_k(
        base, F.col("score"), F.col("words"), budget=5000, max_items=12, min_words=6,
        tiebreak=[F.col("doc_id").asc()],
    )
    return out.select("doc_id", "score", "words")


_SQL_BUDGETED = r"""
WITH base AS (
  SELECT doc_id, CAST(n_chars AS DOUBLE) AS score,
         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS words
  FROM documents
), ranked AS (
  SELECT *, SUM(words) OVER (ORDER BY score DESC, doc_id ASC
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_words,
            ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rnk
  FROM base WHERE words >= 6
)
SELECT doc_id, score, words FROM ranked WHERE cum_words <= 5000 AND rnk <= 12
"""


def q_duration_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 parse_duration over mixed formats (reference server/ingest/feeds.py:27-54)."""
    from podcast_plow_spark.functions.text import parse_duration_col

    ev = _t(spark, sf_dir, "events")
    mm = (F.col("event_id") % 90).cast("int")
    ss = (F.col("user_id") % 60).cast("int")
    raw = (
        F.when(F.col("event_id") % 3 == 0, ss.cast("string"))
        .when(F.col("event_id") % 3 == 1, F.format_string("%d:%02d", mm, ss))
        .otherwise(F.format_string("%d:%02d:%02d", (F.col("event_id") % 5).cast("int"), mm % 60, ss))
    )
    return ev.select("event_id", raw.alias("raw"), parse_duration_col(raw).alias("duration_sec"))


_SQL_DURATION = """
WITH g AS (
  SELECT event_id,
         CAST(event_id % 90 AS INT) AS mm, CAST(user_id % 60 AS INT) AS ss,
         CAST(event_id % 5 AS INT) AS hh
  FROM events
), r AS (
  SELECT event_id,
         CASE WHEN event_id % 3 = 0 THEN CAST(ss AS VARCHAR)
              WHEN event_id % 3 = 1 THEN printf('%d:%02d', mm, ss)
              ELSE printf('%d:%02d:%02d', hh, mm % 60, ss) END AS raw
  FROM g
)
SELECT event_id, raw,
       CASE WHEN regexp_matches(raw, '^\\d+$') THEN CAST(raw AS BIGINT)
            WHEN regexp_matches(raw, '^\\d+:\\d{1,2}:\\d{1,2}$')
              THEN CAST(string_split(raw, ':')[1] AS BIGINT) * 3600
                 + CAST(string_split(raw, ':')[2] AS BIGINT) * 60
                 + CAST(string_split(raw, ':')[3] AS BIGINT)
            WHEN regexp_matches(raw, '^\\d+:\\d{1,2}$')
              THEN CAST(string_split(raw, ':')[1] AS BIGINT) * 60
                 + CAST(string_split(raw, ':')[2] AS BIGINT)
            ELSE NULL END AS duration_sec
FROM r
"""


def q_singularize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 singularizer (reference server/services/evidence_fetcher.py:355-362)."""
    from podcast_plow_spark.functions.text import singularize_col

    d = _t(spark, sf_dir, "documents")
    words = d.select(F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word")).distinct()
    return words.select("word", singularize_col(F.col("word")).alias("singular")).orderBy("word")


_SQL_SINGULARIZE = r"""
WITH w AS (SELECT DISTINCT unnest(string_split_regex(trim(text), '\s+')) AS word FROM documents)
SELECT word,
       CASE WHEN length(word) > 3 AND word LIKE '%ies' THEN substr(word, 1, length(word)-3) || 'y'
            WHEN length(word) > 3 AND word LIKE '%ses' THEN substr(word, 1, length(word)-1)
            WHEN length(word) > 3 AND word LIKE '%s' AND word NOT LIKE '%ss' THEN substr(word, 1, length(word)-1)
            ELSE word END AS singular
FROM w ORDER BY word
"""


def q_claim_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 claim-sentence predicate (reference worker/claim_extraction.py:268-272)."""
    from podcast_plow_spark.functions.text import looks_like_claim_col

    ev = _t(spark, sf_dir, "events")
    sentence = F.when(
        F.col("value") > 250, F.concat(F.col("event_type"), F.lit(" improves value"))
    ).otherwise(F.concat(F.lit("i remember a "), F.col("event_type"), F.lit(" story")))
    return (
        ev.select(sentence.alias("sentence"))
        .withColumn("is_claim", looks_like_claim_col(F.col("sentence")))
        .groupBy("sentence", "is_claim")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("sentence")
    )


_SQL_CLAIM_PRED = """
WITH s AS (
  SELECT CASE WHEN value > 250 THEN event_type || ' improves value'
              ELSE 'i remember a ' || event_type || ' story' END AS sentence
  FROM events
)
SELECT sentence,
       (NOT (sentence LIKE '%i remember%' OR sentence LIKE '%i once%' OR sentence LIKE '%i used to%'
             OR sentence LIKE '%story%' OR sentence LIKE '%my friend%' OR sentence LIKE '%i feel%'
             OR sentence LIKE '%i think%'))
       AND (sentence LIKE '%increase%' OR sentence LIKE '%improve%' OR sentence LIKE '%reduce%'
            OR sentence LIKE '%prevent%' OR sentence LIKE '%support%' OR sentence LIKE '%boost%'
            OR sentence LIKE '%raise%' OR sentence LIKE '%lower%' OR sentence LIKE '%enhance%'
            OR sentence LIKE '%maintain%' OR sentence LIKE '%decrease%' OR sentence LIKE '%assist%'
            OR sentence LIKE '%protect%' OR sentence LIKE '%strengthen%' OR sentence LIKE '%fuel%'
            OR sentence LIKE '%accelerate%' OR sentence LIKE '%help%' OR sentence LIKE '%shorten%'
            OR sentence LIKE '%stabilize%') AS is_claim,
       COUNT(*) AS n
FROM s GROUP BY 1, 2 ORDER BY sentence
"""


def q_topic_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X19 ordered keyword → (topic, domain) (reference worker/claim_extraction.py:319-323)."""
    from podcast_plow_spark.functions.text import normalise_col, topic_domain_cols

    d = _t(spark, sf_dir, "documents")
    # r6 optimization (guide §4.4-adjacent): materialize the normalised
    # text ONCE in its own projection before the 32-branch when-chain.
    # Conditions inside CASE WHEN are conditionally evaluated, so
    # Spark's subexpression elimination never hoists the 2×
    # regexp_replace chain out of them — inlining `norm` into
    # topic_domain_cols re-ran the regexes up to 32× per row (11.6 s at
    # sf1.0 → ~1.3 s). CollapseProject keeps the barrier because a
    # non-cheap expression with many uses is never inlined.
    normed = d.select(normalise_col(F.col("text")).alias("__t"))
    topic, domain = topic_domain_cols(F.col("__t"))
    return (
        normed.select(topic.alias("topic"), domain.alias("domain"))
        .groupBy("topic", "domain")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("topic")
    )


_SQL_TOPIC = r"""
WITH n AS (
  SELECT trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g')) AS t
  FROM documents
), c AS (
  SELECT CASE
    WHEN t LIKE '%ketone%' THEN 'ketones' WHEN t LIKE '%fast%' THEN 'intermittent_fasting'
    WHEN t LIKE '%sleep%' THEN 'sleep_quality' WHEN t LIKE '%melatonin%' THEN 'melatonin'
    WHEN t LIKE '%circadian%' THEN 'circadian_rhythm' WHEN t LIKE '%cortisol%' THEN 'stress_hormones'
    WHEN t LIKE '%omega%' THEN 'omega_3' WHEN t LIKE '%creatine%' THEN 'creatine'
    WHEN t LIKE '%brown fat%' THEN 'brown_adipose_tissue' WHEN t LIKE '%norepinephrine%' THEN 'norepinephrine'
    WHEN t LIKE '%hydration%' THEN 'hydration' WHEN t LIKE '%magnesium%' THEN 'magnesium'
    WHEN t LIKE '%microbiome%' THEN 'gut_microbiome' WHEN t LIKE '%fermented%' THEN 'fermented_foods'
    WHEN t LIKE '%probiotic%' THEN 'probiotics' WHEN t LIKE '%glucose%' THEN 'glucose_regulation'
    ELSE 'general_health' END AS topic,
  CASE
    WHEN t LIKE '%ketone%' THEN 'metabolism' WHEN t LIKE '%fast%' THEN 'nutrition'
    WHEN t LIKE '%sleep%' THEN 'wellness' WHEN t LIKE '%melatonin%' THEN 'sleep'
    WHEN t LIKE '%circadian%' THEN 'sleep' WHEN t LIKE '%cortisol%' THEN 'endocrinology'
    WHEN t LIKE '%omega%' THEN 'nutrition' WHEN t LIKE '%creatine%' THEN 'performance'
    WHEN t LIKE '%brown fat%' THEN 'metabolism' WHEN t LIKE '%norepinephrine%' THEN 'neurochemistry'
    WHEN t LIKE '%hydration%' THEN 'performance' WHEN t LIKE '%magnesium%' THEN 'supplements'
    WHEN t LIKE '%microbiome%' THEN 'nutrition' WHEN t LIKE '%fermented%' THEN 'nutrition'
    WHEN t LIKE '%probiotic%' THEN 'nutrition' WHEN t LIKE '%glucose%' THEN 'metabolism'
    ELSE 'wellness' END AS domain
  FROM n
)
SELECT topic, domain, COUNT(*) AS n FROM c GROUP BY 1, 2 ORDER BY topic
"""


def q_evidence_top6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 dedup-by-key keep-best → global sort → top-6 → 2 primary flags
    (reference server/app.py:17-85)."""
    p = _t(spark, sf_dir, "part")
    ranked = p.select(
        "p_partkey",
        F.col("p_brand").alias("key"),
        (F.col("p_size") % 5).cast("int").alias("type_rank"),
        F.col("p_retailprice").alias("year_proxy"),
    )
    w = Window.partitionBy("key").orderBy(
        F.col("type_rank").asc(), F.col("year_proxy").desc(), F.col("p_partkey").asc()
    )
    best = ranked.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1).drop("rn")
    w2 = Window.orderBy(F.col("type_rank").asc(), F.col("year_proxy").desc(), F.col("p_partkey").asc())
    top = best.withColumn("pos", F.row_number().over(w2)).where(F.col("pos") <= 6)
    return top.select("p_partkey", "key", "type_rank", (F.col("pos") <= 2).alias("is_primary"))


_SQL_EVIDENCE6 = """
WITH ranked AS (
  SELECT p_partkey, p_brand AS key, CAST(p_size % 5 AS INT) AS type_rank, p_retailprice AS year_proxy,
         ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY p_size % 5 ASC, p_retailprice DESC, p_partkey ASC) AS rn
  FROM part
), best AS (SELECT * FROM ranked WHERE rn = 1),
top AS (SELECT *, ROW_NUMBER() OVER (ORDER BY type_rank ASC, year_proxy DESC, p_partkey ASC) AS pos FROM best)
SELECT p_partkey, key, type_rank, pos <= 2 AS is_primary FROM top WHERE pos <= 6
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4-analog gap-based sessionization (30-min gap) via lag +
    cumulative sum — the distributed idiom for the reference's
    sequential segment accumulator (worker/claim_extraction.py:201-265)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    secs = F.unix_timestamp(F.col("ts"))
    gap = secs - F.lag(secs).over(w)
    marked = ev.withColumn("new_sess", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
    sess = marked.withColumn("session_id", F.sum("new_sess").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("long"))
    return (
        sess.groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.min("ts").alias("start_ts"), F.max("ts").alias("end_ts"))
        .orderBy("user_id", "session_id")
    )


_SQL_SESSIONIZE = """
WITH g AS (
  SELECT user_id, event_id, ts,
         CASE WHEN epoch(ts) - epoch(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800
                OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_sess
  FROM events
), s AS (
  SELECT user_id, ts,
         CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM g
)
SELECT user_id, session_id, COUNT(*) AS n_events, MIN(ts) AS start_ts, MAX(ts) AS end_ts
FROM s GROUP BY 1, 2 ORDER BY user_id, session_id
"""


def q_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: polynomial rolling hash over token
    hashes (training-data op; engine-independent arithmetic)."""
    P = 1_000_000_007
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    hashed = F.transform(
        toks, lambda t: F.conv(F.substring(F.sha2(t, 256), 1, 8), 16, 10).cast("long") % P
    )
    fp = F.aggregate(hashed, F.lit(0).cast("long"), lambda acc, x: (acc * 31 + x) % P)
    return d.select("doc_id", fp.alias("doc_fp"))


_SQL_ROLLING_FP = r"""
SELECT doc_id,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(string_split_regex(trim(text), '\s+'),
                          t -> CAST('0x' || substr(sha256(t), 1, 8) AS BIGINT) % 1000000007)),
         (acc, x) -> (acc * 31 + x) % 1000000007
       ) AS doc_fp
FROM documents
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: stopword-hit fraction (training-data op)."""
    stops = ["the", "a", "of", "and", "to", "in", "is"]
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    hits = F.size(F.filter(toks, lambda t: t.isin(stops)))
    frac = F.round(hits.cast("double") / F.size(toks), 4)
    pred = F.when(frac >= 0.05, F.lit("en")).otherwise(F.lit("unknown"))
    return d.select("doc_id", frac.alias("stop_frac"), pred.alias("lang_pred"))


_SQL_LANG_ID = r"""
WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents)
SELECT doc_id,
       ROUND(CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
             / len(toks), 4) AS stop_frac,
       CASE WHEN CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
                 / len(toks) >= 0.05 THEN 'en' ELSE 'unknown' END AS lang_pred
FROM t
"""


def q_recency_nulls_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 recency top-N with NULLS LAST under DESC (reference
    server/manage.py:330-338; Postgres default semantics)."""
    o = _t(spark, sf_dir, "orders")
    dated = o.withColumn("d", F.when(F.col("o_orderkey") % 97 == 0, F.lit(None)).otherwise(F.col("o_orderdate")))
    return (
        dated.orderBy(F.col("d").desc_nulls_last(), F.col("o_orderkey").desc())
        .limit(25)
        .select("o_orderkey", "d")
    )


_SQL_RECENCY = """
SELECT o_orderkey, CASE WHEN o_orderkey % 97 = 0 THEN NULL ELSE o_orderdate END AS d
FROM orders
ORDER BY d DESC NULLS LAST, o_orderkey DESC
LIMIT 25
"""


def q_first_by_source_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2 order-preserving candidate dedup: first per target by
    (source_rank, position) (reference server/ingest/youtube.py:105-165)."""
    ev = _t(spark, sf_dir, "events")
    ranked = ev.select(
        (F.col("user_id") % 50).alias("target"),
        F.when(F.col("event_type") == "purchase", 1)
        .when(F.col("event_type") == "signup", 2)
        .when(F.col("event_type") == "click", 3)
        .when(F.col("event_type") == "view", 4)
        .otherwise(5)
        .alias("source_rank"),
        F.col("event_id").alias("pos"),
    )
    w = Window.partitionBy("target").orderBy(F.col("source_rank").asc(), F.col("pos").asc())
    return (
        ranked.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("target", "source_rank", F.col("pos").alias("chosen_pos"))
        .orderBy("target")
    )


_SQL_SOURCE_RANK = """
WITH ranked AS (
  SELECT user_id % 50 AS target,
         CASE event_type WHEN 'purchase' THEN 1 WHEN 'signup' THEN 2 WHEN 'click' THEN 3
                         WHEN 'view' THEN 4 ELSE 5 END AS source_rank,
         event_id AS pos
  FROM events
), w AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY target ORDER BY source_rank ASC, pos ASC) AS rn FROM ranked
)
SELECT target, source_rank, pos AS chosen_pos FROM w WHERE rn = 1 ORDER BY target
"""


def q_semi_join_urgent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 semi-join by key set (reference server/services/evidence.py:834-838)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderpriority") == "1-URGENT")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"], "left_semi")
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n_items"), F.round(F.sum("l_quantity"), 2).alias("qty"))
        .orderBy("l_suppkey")
    )


_SQL_SEMI_URGENT = """
SELECT l_suppkey, COUNT(*) AS n_items, ROUND(SUM(l_quantity), 2) AS qty
FROM lineitem
WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
GROUP BY l_suppkey ORDER BY l_suppkey
"""


def q_having_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 count-threshold gate (reference server/services/evidence_fetcher.py:749-771)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .where(F.col("n_orders") >= 15)
        .orderBy("o_custkey")
    )


_SQL_HAVING = """
SELECT o_custkey, COUNT(*) AS n_orders FROM orders
GROUP BY o_custkey HAVING COUNT(*) >= 15 ORDER BY o_custkey
"""


def q_collect_evidence_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 grouped collect preserving deterministic order (reference
    worker/auto_grade.py:34-53) — arrays compared as sorted joined strings."""
    ev = _t(spark, sf_dir, "events")
    lst = ev.groupBy((F.col("user_id") % 20).alias("claim_id")).agg(
        F.array_join(F.array_sort(F.collect_list(F.col("event_id").cast("string"))), ",").alias("evidence_ids"),
        F.count(F.lit(1)).alias("n"),
    )
    return lst.orderBy("claim_id")


_SQL_COLLECT = """
SELECT user_id % 20 AS claim_id,
       array_to_string(list_sort(list(CAST(event_id AS VARCHAR))), ',') AS evidence_ids,
       COUNT(*) AS n
FROM events GROUP BY 1 ORDER BY claim_id
"""


# ----------------------------------------------------------------------
# Merge/upsert sinks (S8-S12, D5 — podcast_plow_spark/operators/merge.py)
# ----------------------------------------------------------------------


def _upsert_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    updates = c.where(F.col("c_custkey") % 3 == 0).select(
        "c_custkey",
        F.lit(None).cast("string").alias("c_name"),
        "c_nationkey",
        (F.col("c_acctbal") + 100).alias("c_acctbal"),
        F.lit("NEWSEG").alias("c_mktsegment"),
    )
    inserts = c.where(F.col("c_custkey") % 500 == 0).select(
        (F.col("c_custkey") + 1_000_000).alias("c_custkey"),
        F.concat(F.lit("NewCustomer#"), F.col("c_custkey").cast("string")).alias("c_name"),
        "c_nationkey",
        F.lit(0.0).alias("c_acctbal"),
        F.lit("NEWSEG").alias("c_mktsegment"),
    )
    return updates.unionByName(inserts)


def q_upsert_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8/S9/S10 coalesce-update MERGE (reference server/ingest/feeds.py:106-214)."""
    from podcast_plow_spark.operators.merge import upsert_coalesce

    target = _t(spark, sf_dir, "customer")
    out = upsert_coalesce(
        target, _upsert_source(spark, sf_dir), key="c_custkey", overwrite_cols=["c_mktsegment"]
    )
    return out.select(
        "c_custkey", "c_name", "c_nationkey", F.round("c_acctbal", 2).alias("c_acctbal"), "c_mktsegment"
    )


_SQL_UPSERT = """
WITH src AS (
  SELECT c_custkey, CAST(NULL AS VARCHAR) AS c_name, c_nationkey,
         c_acctbal + 100 AS c_acctbal, 'NEWSEG' AS c_mktsegment
  FROM customer WHERE c_custkey % 3 = 0
  UNION ALL
  SELECT c_custkey + 1000000, 'NewCustomer#' || CAST(c_custkey AS VARCHAR), c_nationkey,
         0.0, 'NEWSEG'
  FROM customer WHERE c_custkey % 500 = 0
)
SELECT COALESCE(t.c_custkey, s.c_custkey) AS c_custkey,
       CASE WHEN t.c_custkey IS NOT NULL AND s.c_custkey IS NOT NULL THEN COALESCE(s.c_name, t.c_name)
            WHEN t.c_custkey IS NOT NULL THEN t.c_name ELSE s.c_name END AS c_name,
       CASE WHEN t.c_custkey IS NOT NULL AND s.c_custkey IS NOT NULL THEN COALESCE(s.c_nationkey, t.c_nationkey)
            WHEN t.c_custkey IS NOT NULL THEN t.c_nationkey ELSE s.c_nationkey END AS c_nationkey,
       ROUND(CASE WHEN t.c_custkey IS NOT NULL AND s.c_custkey IS NOT NULL THEN COALESCE(s.c_acctbal, t.c_acctbal)
                  WHEN t.c_custkey IS NOT NULL THEN t.c_acctbal ELSE s.c_acctbal END, 2) AS c_acctbal,
       CASE WHEN t.c_custkey IS NOT NULL AND s.c_custkey IS NOT NULL THEN s.c_mktsegment
            WHEN t.c_custkey IS NOT NULL THEN t.c_mktsegment ELSE s.c_mktsegment END AS c_mktsegment
FROM customer t FULL OUTER JOIN src s ON t.c_custkey = s.c_custkey
"""


def q_insert_if_absent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11 ON CONFLICT DO NOTHING (reference server/ingest/transcripts.py:124-136)."""
    from podcast_plow_spark.operators.merge import insert_if_absent

    target = _t(spark, sf_dir, "supplier")
    src = target.select(
        F.when(F.col("s_suppkey") % 2 == 0, F.col("s_suppkey"))
        .otherwise(F.col("s_suppkey") + 10_000)
        .alias("s_suppkey"),
        F.lit("InsertedSupplier").alias("s_name"),
        "s_nationkey",
        F.lit(0.0).alias("s_acctbal"),
    )
    out = insert_if_absent(target, src, "s_suppkey")
    return out.select("s_suppkey", "s_name", "s_nationkey", F.round("s_acctbal", 2).alias("s_acctbal"))


_SQL_INSERT_ABSENT = """
WITH src AS (
  SELECT CASE WHEN s_suppkey % 2 = 0 THEN s_suppkey ELSE s_suppkey + 10000 END AS s_suppkey,
         'InsertedSupplier' AS s_name, s_nationkey, 0.0 AS s_acctbal
  FROM supplier
)
SELECT s_suppkey, s_name, s_nationkey, ROUND(s_acctbal, 2) AS s_acctbal FROM supplier
UNION ALL
SELECT s.s_suppkey, s.s_name, s.s_nationkey, ROUND(s.s_acctbal, 2) FROM src s
WHERE NOT EXISTS (SELECT 1 FROM supplier t WHERE t.s_suppkey = s.s_suppkey)
"""


def q_dedup_gc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5 duplicate GC: min-id per key is primary, the rest are deleted
    (reference server/services/claims.py:76-105)."""
    from podcast_plow_spark.operators.merge import dedup_gc

    ev = _t(spark, sf_dir, "events").select((F.col("user_id") % 100).alias("key"), "event_id")
    _kept, deleted = dedup_gc(ev, "key", "event_id")
    return deleted.orderBy("event_id")


_SQL_DEDUP_GC = """
SELECT event_id FROM (
  SELECT event_id, ROW_NUMBER() OVER (PARTITION BY user_id % 100 ORDER BY event_id ASC) AS rn
  FROM events
) WHERE rn > 1 ORDER BY event_id
"""


def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 5-way join (two broadcast dims), revenue by
    nation — exercises Catalyst join reordering + broadcast selection."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    j = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .where(c["c_nationkey"] == s["s_nationkey"])
    )
    return (
        j.groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name").asc())
    )


_SQL_LOCAL_SUPPLIER = """
SELECT n_name, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation ON s_nationkey = n_nationkey
WHERE c_nationkey = s_nationkey
GROUP BY n_name
ORDER BY revenue DESC, n_name ASC
"""


# ----------------------------------------------------------------------
# Evidence + summarization kernels (X13-X16, X20-X23, A5 pipeline)
# ----------------------------------------------------------------------


def q_stance_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X14/X15 heuristic stance classifier (reference
    server/services/evidence.py:568-606) — regex-fixpoint kernel, not
    SQL-expressible; oracle = sequential-python golden parquet;
    semantics frozen in tests/test_evidence_and_summary.py."""
    from podcast_plow_spark.functions.evidence import classify_stance_udf

    ev = _spread(_t(spark, sf_dir, "events"))
    claim = F.concat(F.col("event_type"), F.lit(" increases value"))
    title = F.when(F.col("value") > 300, F.lit("significant improvement in outcomes"))\
        .when(F.col("value") > 150, F.lit("no effect was observed"))\
        .otherwise(F.lit("results were inconclusive"))
    abstract = F.get_json_object(F.col("props"), "$.k").cast("string")
    # r6 (guide §4.1/§2.3 "aggregate before you shuffle" applied to the
    # Python boundary): the classifier is a pure function of the
    # (claim, title, abstract) triple, so count triples in the JVM
    # FIRST and classify only the distinct ones — the Arrow exchange
    # and the Python loop see hundreds of rows instead of 1M; the
    # stance totals (Σ per-triple counts) are identical by purity.
    triples = (
        ev.select(claim.alias("__c"), title.alias("__t"), abstract.alias("__a"))
        .groupBy("__c", "__t", "__a")
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )
    stanced = triples.withColumn(
        "stance", classify_stance_udf(F.col("__c"), F.col("__t"), F.col("__a"))
    )
    return (
        stanced.groupBy("stance").agg(F.sum("__cnt").alias("n")).orderBy("stance")
    )


def q_summarize_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/K5/X23 extractive summary pipeline (reference
    server/ingest/summaries.py) — per-document python kernel; oracle =
    sequential-python golden parquet (scripts/gen_golden.py)."""
    from podcast_plow_spark.functions.summarize import summarize_documents

    return summarize_documents(_spread(_t(spark, sf_dir, "documents")), max_words=40, max_sentences=3)


#: stop words for the luhn_summary driver query (frozen; mirrored in SQL)
_LUHN_STOPS = ["a", "the", "and", "of", "to", "in", "is", "on"]
_LUHN_SENT_LEN = 12  # pseudo-sentence length for unpunctuated transcript text
_LUHN_GAP = 4  # sumy LuhnSummarizer.max_gap_size


def q_luhn_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X22 sumy-Luhn scoring + top-N selection, as pure Spark Columns.

    sumy's chunk algebra (luhn.py: a chunk opens at a significant word
    and breaks after max_gap_size=4 consecutive non-significant words;
    rating = significant²/span with trailing zeros stripped; a
    single-significant chunk rates 0; sentence rating = max chunk) is
    relational: consecutive significant positions with delta ≤ gap
    form one chunk — the sessionize idiom (lag + conditional
    cumulative sum); span = last−first+1 because trailing zeros never
    lie between significant words. Stop-word significance makes the
    clustering non-degenerate; the synthetic documents are
    unpunctuated transcript-style text, so sentences are 12-token
    windows (the transcript-chunker convention). Selection: top-N per
    doc (N = clamp(ceil(words/400), 3, 7) — reference
    server/services/summarize.py point count), rating desc with
    stable document-order ties, emitted in document order. The same
    semantics at Python speed live in
    functions/summarize.py::luhn_rate_sentence (golden-tested); parity
    of the two is asserted in tests/test_evidence_and_summary.py."""
    d = _t(spark, sf_dir, "documents")
    toks = F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
    base = d.select("doc_id", toks.alias("__toks")).select(
        "doc_id",
        F.size("__toks").alias("__nw"),
        F.posexplode("__toks").alias("__p", "__w"),
    )
    base = base.select(
        "doc_id",
        "__nw",
        "__w",
        (F.col("__p") / _LUHN_SENT_LEN).cast("long").alias("sent_idx"),
        (F.col("__p") % _LUHN_SENT_LEN).cast("long").alias("__wp"),
    )
    # r6 (guide §2.3): project to (doc_id, sent_idx, __wp) BEFORE the
    # window exchange — the word strings are not consumed past the
    # stop-word filter and must not ride the shuffle
    sig = base.where(~F.col("__w").isin(*_LUHN_STOPS)).select("doc_id", "sent_idx", "__wp")
    w_sent = Window.partitionBy("doc_id", "sent_idx").orderBy("__wp")
    sig = sig.withColumn(
        "__new", (F.col("__wp") - F.lag("__wp", 1, -100).over(w_sent) > _LUHN_GAP).cast("int")
    ).withColumn("__chunk", F.sum("__new").over(w_sent.rowsBetween(Window.unboundedPreceding, 0)))
    chunks = sig.groupBy("doc_id", "sent_idx", "__chunk").agg(
        F.count(F.lit(1)).alias("__cnt"), F.min("__wp").alias("__lo"), F.max("__wp").alias("__hi")
    )
    chunk_rating = F.when(F.col("__cnt") == 1, F.lit(0.0)).otherwise(
        F.col("__cnt") * F.col("__cnt") / (F.col("__hi") - F.col("__lo") + 1)
    )
    rated = chunks.groupBy("doc_id", "sent_idx").agg(F.round(F.max(chunk_rating), 4).alias("rating"))
    # r6 note: generating the sentence universe from the per-doc token
    # count (explode(sequence(0, (nw−1) div 12))) was tried and measured
    # SLOWER same-session (2.7 s → 3.4 s): the distinct's exchange
    # shares base's shuffle via AQE stage reuse, while the generate
    # path pays a fresh scan + regexp_extract_all pass. Kept as-is.
    all_sents = base.select("doc_id", "__nw", "sent_idx").distinct()
    rated_all = all_sents.join(rated, ["doc_id", "sent_idx"], "left").select(
        "doc_id",
        "sent_idx",
        F.coalesce(F.col("rating"), F.lit(0.0)).alias("rating"),
        F.greatest(
            F.lit(3).cast("long"),
            F.least(F.ceil(F.col("__nw") / F.lit(400.0)).cast("long"), F.lit(7).cast("long")),
        ).alias("__np"),
    )
    w_rank = Window.partitionBy("doc_id").orderBy(F.col("rating").desc(), F.col("sent_idx").asc())
    top = rated_all.withColumn("__rk", F.row_number().over(w_rank)).where(F.col("__rk") <= F.col("__np"))
    w_doc = Window.partitionBy("doc_id").orderBy(F.col("sent_idx").asc())
    return top.select(
        "doc_id",
        F.row_number().over(w_doc).cast("long").alias("point_no"),
        "sent_idx",
        "rating",
    )


_SQL_LUHN_SUMMARY = rf"""
WITH base AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS BIGINT) AS nw,
         generate_subscripts(regexp_extract_all(lower(text), '[a-z]+'), 1) - 1 AS p,
         unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
  FROM documents
), pos AS (
  SELECT doc_id, nw, w, CAST(p // {_LUHN_SENT_LEN} AS BIGINT) AS sent_idx,
         CAST(p % {_LUHN_SENT_LEN} AS BIGINT) AS wp
  FROM base
), sig AS (
  SELECT doc_id, sent_idx, wp,
         CASE WHEN wp - COALESCE(LAG(wp) OVER (PARTITION BY doc_id, sent_idx ORDER BY wp), -100)
                   > {_LUHN_GAP} THEN 1 ELSE 0 END AS new_chunk
  FROM pos WHERE w NOT IN ({", ".join("'" + s + "'" for s in _LUHN_STOPS)})
), chunked AS (
  SELECT doc_id, sent_idx, wp,
         SUM(new_chunk) OVER (PARTITION BY doc_id, sent_idx ORDER BY wp
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS chunk
  FROM sig
), chunks AS (
  SELECT doc_id, sent_idx, chunk, COUNT(*) AS cnt, MIN(wp) AS lo, MAX(wp) AS hi
  FROM chunked GROUP BY 1, 2, 3
), rated AS (
  SELECT doc_id, sent_idx,
         ROUND(MAX(CASE WHEN cnt = 1 THEN 0.0 ELSE cnt * cnt * 1.0 / (hi - lo + 1) END), 4) AS rating
  FROM chunks GROUP BY 1, 2
), all_sents AS (
  SELECT DISTINCT doc_id, nw, sent_idx FROM pos
), rated_all AS (
  SELECT a.doc_id, a.sent_idx, COALESCE(r.rating, 0.0) AS rating,
         GREATEST(CAST(3 AS BIGINT),
                  LEAST(CAST(CEIL(a.nw / 400.0) AS BIGINT), CAST(7 AS BIGINT))) AS np
  FROM all_sents a LEFT JOIN rated r ON r.doc_id = a.doc_id AND r.sent_idx = a.sent_idx
), ranked AS (
  SELECT doc_id, sent_idx, rating, np,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY rating DESC, sent_idx) AS rk
  FROM rated_all
)
SELECT doc_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY sent_idx) AS BIGINT) AS point_no,
       sent_idx, rating
FROM ranked WHERE rk <= np
"""


def _golden_oracle_sql(name: str) -> str:
    """Oracle = the committed golden parquet for this query
    (tests/golden/, produced by scripts/gen_golden.py via a sequential
    pure-python pass over the pinned sf0.01 tables)."""
    import os

    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "tests", "golden", f"{name}_sf001.parquet")
    return f"SELECT * FROM read_parquet('{path}')"


def q_pubtype_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X16 publication-type mapping as a codegen'd when-chain
    (reference server/services/evidence.py:542-552)."""
    ev = _t(spark, sf_dir, "events")
    t = F.when(F.col("value") >= 400, F.lit("systematic review and meta-analysis"))\
        .when(F.col("value") >= 300, F.lit("randomised controlled trial"))\
        .when(F.col("value") >= 200, F.lit("cohort studies"))\
        .when(F.col("value") >= 100, F.lit("narrative review"))\
        .when(F.col("value") >= 50, F.lit("field trial"))\
        .otherwise(F.lit("bench study"))
    mapped = (
        F.when(t.isin("meta-analysis", "systematic review and meta-analysis"), F.lit("meta-analysis"))
        .when(t == "systematic review", F.lit("systematic review"))
        .when(
            t.isin(
                "randomized controlled trial", "randomised controlled trial", "clinical trial",
                "controlled clinical trial", "multicenter study", "pragmatic clinical trial",
            ),
            F.lit("RCT"),
        )
        .when(
            t.isin(
                "observational study", "cohort studies", "case-control studies",
                "cross-sectional studies", "comparative study", "prospective studies",
                "retrospective studies",
            ),
            F.lit("observational"),
        )
        .when(t.contains("review"), F.lit("systematic review"))
        .when(t.contains("trial"), F.lit("RCT"))
        .otherwise(F.lit("mechanistic"))
    )
    return (
        ev.select(mapped.alias("pub_type"))
        .groupBy("pub_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("pub_type")
    )


_SQL_PUBTYPE = """
WITH t AS (
  SELECT CASE WHEN value >= 400 THEN 'systematic review and meta-analysis'
              WHEN value >= 300 THEN 'randomised controlled trial'
              WHEN value >= 200 THEN 'cohort studies'
              WHEN value >= 100 THEN 'narrative review'
              WHEN value >= 50 THEN 'field trial'
              ELSE 'bench study' END AS pt
  FROM events
)
SELECT CASE WHEN pt IN ('meta-analysis', 'systematic review and meta-analysis') THEN 'meta-analysis'
            WHEN pt = 'systematic review' THEN 'systematic review'
            WHEN pt IN ('randomized controlled trial','randomised controlled trial','clinical trial',
                        'controlled clinical trial','multicenter study','pragmatic clinical trial') THEN 'RCT'
            WHEN pt IN ('observational study','cohort studies','case-control studies',
                        'cross-sectional studies','comparative study','prospective studies',
                        'retrospective studies') THEN 'observational'
            WHEN pt LIKE '%review%' THEN 'systematic review'
            WHEN pt LIKE '%trial%' THEN 'RCT'
            ELSE 'mechanistic' END AS pub_type,
       COUNT(*) AS n
FROM t GROUP BY 1 ORDER BY pub_type
"""


# ----------------------------------------------------------------------
# Claim extraction pipeline (F8/X6/X7/X18/X19/X20/W4/D4/K7 composed)
# ----------------------------------------------------------------------


def _synthetic_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _spread(_t(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        F.concat(
            F.substring(F.col("text"), 1, 120),
            F.lit(". The host says that creatine improves memory. "),
            F.lit("I remember a story about it. Magnesium supports deep sleep."),
        ).alias("text"),
    )


def q_extract_claims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full claim pipeline (reference worker/claim_extraction.py:336-371)
    — per-transcript python kernel; oracle = sequential-python golden
    parquet (scripts/gen_golden.py); semantics frozen in
    tests/test_html_segments_queries.py."""
    from podcast_plow_spark.operators.segments import extract_claims_df

    return extract_claims_df(_synthetic_transcripts(spark, sf_dir))


def q_segment_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 segment builder (reference worker/claim_extraction.py:201-265)
    — oracle = sequential-python golden parquet; duration invariants
    frozen in tests."""
    import pandas as pd

    from podcast_plow_spark.functions.summarize import iter_sentences
    from podcast_plow_spark.operators.segments import build_segments

    def run(batches):
        for pdf in batches:
            rows = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                for i, seg in enumerate(build_segments(iter_sentences(text or ""))):
                    rows.append(
                        {"doc_id": did, "segment_idx": i, "start_ms": seg.start_ms,
                         "end_ms": seg.end_ms, "n_words": len(seg.text.split())}
                    )
            yield pd.DataFrame(rows) if rows else pd.DataFrame(
                columns=["doc_id", "segment_idx", "start_ms", "end_ms", "n_words"]
            )

    return _synthetic_transcripts(spark, sf_dir).mapInPandas(
        run, schema="doc_id long, segment_idx int, start_ms long, end_ms long, n_words long"
    )


#: deterministic evidence-type vocabulary for the composed pipeline —
#: covers all four grader buckets (meta / rct / observational / weak)
_PIPE_EV_TYPES = [
    "meta-analysis of trials",
    "randomized controlled trial",
    "cohort study",
    "in vitro study",
    "case report",
    "clinical trial",
]


def q_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed nightly pipeline (reference
    .github/workflows/nightly.yml:85-165): discover shows → W2
    top-2-episodes-per-show → synthetic transcript → X22/X23 summarize
    → claim extraction (worker/claim_extraction.py:336-371) →
    deterministic evidence linking (sha256-derived type/stance per
    claim, the sandbox stand-in for the PubMed fetch) → A3 grade
    (server/services/grader.py:137-195). Every stage is individually
    oracle-checked elsewhere; this entry checks the COMPOSITION (schema
    drift between stages only shows up end-to-end). Oracle =
    sequential-python golden parquet (scripts/gen_golden.py)."""
    from podcast_plow_spark.functions.summarize import summarize_documents
    from podcast_plow_spark.operators.grade import grade_claims
    from podcast_plow_spark.operators.segments import extract_claims_df

    d = _spread(_t(spark, sf_dir, "documents"))
    shows = d.select("doc_id", (F.col("doc_id") % 40).alias("show_id"), "text")
    w = Window.partitionBy("show_id").orderBy(F.col("doc_id").desc())
    picked = shows.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 2)
    transcripts = picked.select(
        "doc_id",
        F.concat(
            F.substring(F.col("text"), 1, 120),
            F.lit(". The host says that creatine improves memory. "),
            F.lit("I remember a story about it. Magnesium supports deep sleep."),
        ).alias("text"),
    )
    claims = extract_claims_df(transcripts).select(
        "doc_id", "norm_key", "topic", "domain", "risk_level"
    )
    summaries = summarize_documents(transcripts, max_words=40, max_sentences=3).select(
        "doc_id", "n_points"
    )
    cid = F.concat_ws("|", F.col("doc_id").cast("string"), F.col("norm_key"))
    with_id = claims.withColumn("claim_id", cid)
    # evidence linking: 3 rows per claim, type/stance from the
    # engine-independent sha256-int64 discipline (python twin in
    # scripts/gen_golden.py::golden_pipeline_e2e)
    ev = with_id.select("claim_id").withColumn("e", F.explode(F.sequence(F.lit(0), F.lit(2))))
    h = F.conv(
        F.substring(F.sha2(F.concat_ws("#", F.col("claim_id"), F.col("e")), 256), 1, 15), 16, 10
    ).cast("long")
    ev = ev.select(
        "claim_id",
        F.element_at(
            F.array(*[F.lit(t) for t in _PIPE_EV_TYPES]), (h % 6 + 1).cast("int")
        ).alias("type"),
        F.when(h % 4 == 0, F.lit("refutes")).otherwise(F.lit("supports")).alias("stance"),
    )
    graded = grade_claims(ev).select("claim_id", "total_support", "total_refute", "grade")
    return (
        with_id.join(graded, "claim_id")
        .join(F.broadcast(summaries), "doc_id")
        .select(
            "doc_id", "norm_key", "topic", "domain", "risk_level",
            "n_points", "total_support", "total_refute", "grade",
        )
    )


# ----------------------------------------------------------------------
# driver API
# ----------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_pricing_summary(spark, SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "pricing_summary": q_pricing_summary,
        "dequeue_order": q_dequeue_order,
        "latest_event_per_user": q_latest_event_per_user,
        "top2_orders_per_customer": q_top2_orders_per_customer,
        "customers_without_orders": q_customers_without_orders,
        "customer_order_counts": q_customer_order_counts,
        "local_supplier_volume": q_local_supplier_volume,
        "search_parts": q_search_parts,
        "retry_backoff": q_retry_backoff,
        "fingerprints": q_fingerprints,
        "normalise_dedup": q_normalise_dedup,
        "word_freq": q_word_freq,
        "risk_levels": q_risk_levels,
        "grade_claims": q_grade_claims,
        "json_payload": q_json_payload,
        "cosine_topk": q_cosine_topk,
        "doc_quality": q_doc_quality,
        "ngram_jaccard_dedup": q_ngram_jaccard,
        "simhash_fingerprints": q_simhash,
        "minhash_signatures": q_minhash_signatures,
        "minhash_lsh_dedup": q_minhash_lsh_dedup,
        "phash_near_dup": q_phash_near_dup,
        "lsh_cosine_topk": q_lsh_cosine_topk,
        "chunk_documents": q_chunk_documents,
        "budgeted_selection": q_budgeted_selection,
        "duration_roundtrip": q_duration_roundtrip,
        "singularize": q_singularize,
        "claim_predicate": q_claim_predicate,
        "topic_domain": q_topic_domain,
        "evidence_top6": q_evidence_top6,
        "sessionize": q_sessionize,
        "rolling_fingerprint": q_rolling_fingerprint,
        "lang_id": q_lang_id,
        "recency_nulls_last": q_recency_nulls_last,
        "first_by_source_rank": q_first_by_source_rank,
        "semi_join_urgent": q_semi_join_urgent,
        "having_gate": q_having_gate,
        "embedding_near_dup": q_embedding_near_dup,
        "collect_evidence_lists": q_collect_evidence_lists,
        "upsert_customers": q_upsert_customers,
        "insert_if_absent": q_insert_if_absent,
        "dedup_gc": q_dedup_gc,
        "stance_classify": q_stance_classify,
        "summarize_docs": q_summarize_docs,
        "luhn_summary": q_luhn_summary,
        "ivf_cosine_topk": q_ivf_cosine_topk,
        "pubtype_classify": q_pubtype_classify,
        "extract_claims": q_extract_claims,
        "segment_transcripts": q_segment_transcripts,
        "pipeline_e2e": q_pipeline_e2e,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "pricing_summary": _SQL_PRICING,
        "dequeue_order": _SQL_DEQUEUE,
        "latest_event_per_user": _SQL_LATEST_EVENT,
        "top2_orders_per_customer": _SQL_TOP2,
        "customers_without_orders": _SQL_NO_ORDERS,
        "customer_order_counts": _SQL_ORDER_COUNTS,
        "local_supplier_volume": _SQL_LOCAL_SUPPLIER,
        "search_parts": _SQL_SEARCH_PARTS,
        "retry_backoff": _SQL_BACKOFF,
        "fingerprints": _SQL_FINGERPRINTS,
        "normalise_dedup": _SQL_NORM_DEDUP,
        "word_freq": _SQL_WORD_FREQ,
        "risk_levels": _SQL_RISK,
        "grade_claims": _SQL_GRADE,
        "json_payload": _SQL_JSON,
        "cosine_topk": _SQL_COSINE,
        "doc_quality": _SQL_DOC_QUALITY,
        "ngram_jaccard_dedup": _SQL_NGRAM_JACCARD,
        "simhash_fingerprints": _simhash_oracle_sql(),
        "chunk_documents": _SQL_CHUNKS,
        "budgeted_selection": _SQL_BUDGETED,
        "duration_roundtrip": _SQL_DURATION,
        "singularize": _SQL_SINGULARIZE,
        "claim_predicate": _SQL_CLAIM_PRED,
        "topic_domain": _SQL_TOPIC,
        "evidence_top6": _SQL_EVIDENCE6,
        "sessionize": _SQL_SESSIONIZE,
        "rolling_fingerprint": _SQL_ROLLING_FP,
        "lang_id": _SQL_LANG_ID,
        "recency_nulls_last": _SQL_RECENCY,
        "first_by_source_rank": _SQL_SOURCE_RANK,
        "semi_join_urgent": _SQL_SEMI_URGENT,
        "having_gate": _SQL_HAVING,
        "embedding_near_dup": _embedding_near_dup_oracle_sql(),
        "collect_evidence_lists": _SQL_COLLECT,
        "upsert_customers": _SQL_UPSERT,
        "insert_if_absent": _SQL_INSERT_ABSENT,
        "dedup_gc": _SQL_DEDUP_GC,
        "pubtype_classify": _SQL_PUBTYPE,
        "minhash_signatures": _minhash_oracle_sql(),
        "minhash_lsh_dedup": _minhash_lsh_oracle_sql(),
        "phash_near_dup": _phash_near_dup_oracle_sql(),
        "luhn_summary": _SQL_LUHN_SUMMARY,
        "lsh_cosine_topk": _lsh_cosine_oracle_sql(),
        "ivf_cosine_topk": _ivf_cosine_oracle_sql(),
        # Golden-parquet oracles for the per-row python pipelines
        # (regex-fixpoint stance, stateful segment/claim accumulators,
        # greedy summary): the goldens are produced by a SEQUENTIAL
        # pure-python pass over the pinned sf0.01 tables
        # (scripts/gen_golden.py) — an independent execution path that
        # pins the distributed run (partitioning, Arrow batching,
        # ordering) to the sequential reference. Kernel semantics are
        # separately frozen against the reference by the unit suites.
        "segment_transcripts": _golden_oracle_sql("segment_transcripts"),
        "extract_claims": _golden_oracle_sql("extract_claims"),
        "summarize_docs": _golden_oracle_sql("summarize_docs"),
        "stance_classify": _golden_oracle_sql("stance_classify"),
        "pipeline_e2e": _golden_oracle_sql("pipeline_e2e"),
    }
