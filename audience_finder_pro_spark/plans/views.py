"""Reddit-shaped logical views over the fixture tables (FIXTURES.md §2).

The reference consumes Reddit entities (subreddits / posts / comments —
fields it reads cited at /root/reference/app.py:41-51, 93-106, 121-140).
Golden tests need those shapes, so we derive them *deterministically*
(pure arithmetic on doc_id — no engine-specific hash) from `documents`,
so the DuckDB oracle can build byte-identical views (see the matching
CTEs in queries.py oracle SQL).

Planted quirks exercised (FIXTURES.md):
- 'u_'-prefixed pseudo-subreddits  → filter P4 (min doc_id % 7 == 0)
- over18 communities               → filter P5 (min doc_id % 20 == 0)
- '[deleted]' post authors         → filter P6 (doc_id % 17 == 0)
- '[deleted]'/'[removed]' comment bodies, '[deleted]' comment authors,
  blank bodies                     → filters P6/P7
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_log = logging.getLogger(__name__)

COMMENT_CHUNK = 10  # words per synthetic comment

# Synthetic post timeline: post doc_id is created POST_TS_SPACING seconds
# after the previous one, starting 2024-01-01 00:00:00 UTC. Monotone in
# doc_id by construction, so time-window predicates (the reference's
# time_filter ∈ day/week/month/year/all, app.py:83,256) rewrite exactly
# onto the doc_id key and reach the parquet scan as PushedFilters — the
# same rewrite a real deployment gets from time-partitioned layout.
POST_TS_EPOCH = 1704067200  # 2024-01-01 00:00:00 UTC
POST_TS_SPACING = 10800  # seconds between consecutive synthetic posts (3 h)

def _src_num(col="source"):
    """source is always 'src' || (doc_id % 20) (verified against all SFs)."""
    return F.substring(col, 4, 10).cast("int")


def _display_name(col="source"):
    """Community display name: 'u_'-prefixed pseudo-subreddit for every 7th
    source (planted filter-P4 rows), raw source otherwise."""
    return F.when(_src_num(col) % 7 == 0, F.concat(F.lit("u_"), F.col(col))).otherwise(F.col(col))


def subreddits_view(documents: DataFrame) -> DataFrame:
    """One community per document source (20 at every SF)."""
    return documents.groupBy("source").agg(
        (F.lit(1000) + F.sum("n_chars") % 100000).alias("subscribers"),
    ).select(
        _display_name("source").alias("name"),
        F.col("subscribers").cast("long").alias("subscribers"),
        (_src_num("source") % 20 == 0).alias("over18"),
    )


def posts_view(documents: DataFrame) -> DataFrame:
    return documents.select(
        F.col("doc_id").alias("post_id"),
        _display_name("source").alias("subreddit"),
        F.substring("text", 1, 80).alias("title"),
        F.col("text").alias("selftext"),
        F.when(F.col("doc_id") % 17 == 0, F.lit("[deleted]"))
        .otherwise(F.concat(F.lit("user"), (F.col("doc_id") % 50).cast("string")))
        .alias("author"),
        F.concat(
            F.lit("/r/"), F.col("source"), F.lit("/comments/"), F.col("doc_id").cast("string")
        ).alias("permalink"),
        ((F.col("n_chars") * 37 + F.col("doc_id")) % 1000).cast("long").alias("score"),
        (F.col("doc_id") % 20 == 19).alias("over18"),
        F.timestamp_seconds(
            F.lit(POST_TS_EPOCH) + F.col("doc_id") * F.lit(POST_TS_SPACING)
        ).alias("created_ts"),
    )


def communities_view(documents: DataFrame) -> DataFrame:
    """One row per document: its community display name and ``n_chars``
    (the per-document input of the subscriber count)."""
    return documents.select(_display_name("source").alias("community"), F.col("n_chars"))


def comments_view(documents: DataFrame, n_docs: int) -> DataFrame:
    """Synthetic comment forest: each doc's word stream sliced into
    10-word chunks; chunk p of doc d attaches to post (d*31+p*7) % n_docs
    — models the flattened ``comments.list()`` of app.py:55-56,115-116.
    """
    toks = documents.select(
        F.col("doc_id"),
        F.split("text", " ").alias("toks"),
    )
    # explode the chunk-INDEX sequence and slice per exploded row: slice/
    # array_join then run as plain codegen projections. (The previous form
    # built the chunk array with a transform() lambda — interpreted per
    # chunk, and a whole-stage-codegen CSE blocker for sibling expressions;
    # see the tokens() lesson in NOTES.)
    sliced = toks.select(
        "doc_id",
        "toks",
        F.posexplode(
            F.sequence(
                F.lit(0),
                F.ceil(F.size("toks") / F.lit(COMMENT_CHUNK)).cast("int") - 1,
            )
        ).alias("pos", "_p"),
    ).select(
        "doc_id",
        "pos",
        F.array_join(
            F.slice(F.col("toks"), F.col("_p") * COMMENT_CHUNK + 1, COMMENT_CHUNK), " "
        ).alias("chunk"),
    )
    return sliced.select(
        (F.col("doc_id") * 100 + F.col("pos")).alias("comment_id"),
        ((F.col("doc_id") * 31 + F.col("pos") * 7) % n_docs).alias("post_id"),
        F.col("pos"),
        F.when((F.col("doc_id") + F.col("pos")) % 23 == 0, F.lit("[removed]"))
        .when((F.col("doc_id") + F.col("pos")) % 29 == 1, F.lit(""))
        .otherwise(F.col("chunk"))
        .alias("body"),
        F.when((F.col("doc_id") + F.col("pos")) % 13 == 0, F.lit("[deleted]"))
        .otherwise(F.concat(F.lit("user"), ((F.col("doc_id") + F.col("pos")) % 50).cast("string")))
        .alias("author"),
        F.concat(F.lit("/comments/"), (F.col("doc_id") * 100 + F.col("pos")).cast("string")).alias(
            "permalink"
        ),
    )


def keywords_df(spark: SparkSession, keywords: list[str]) -> DataFrame:
    """Small broadcast side of theta-join J1/J2; kw_pos pins first-match order."""
    return spark.createDataFrame(
        [(i + 1, kw) for i, kw in enumerate(keywords)], "kw_pos int, keyword string"
    )


def reddit_views(spark: SparkSession, sf_dir: str) -> dict:
    """The Reddit-shaped views of ``sf_dir``, memoized per (session, sf_dir).

    The entry holds the view DataFrames (``documents``, ``subreddits``,
    ``posts``, ``comments``, ``communities``), ``n_docs`` — the one count
    every post_id arithmetic reads (the comment forest's attach modulus,
    the time-window bound) — and ``views``: the session temp-view name of
    each frame, which the SQL texts of ``plans.audience`` read from.

    The view plans are pure functions of the input path, so they are
    built, counted and registered once; rebuilding them costs a parquet
    footer read, a count job, an RDD conversion (getNumPartitions) and
    about a hundred Py4J calls per query.
    """
    memo = getattr(spark, "_afp_view_memo", None)
    if memo is None:
        memo = {}
        spark._afp_view_memo = memo
    key = sf_dir.rstrip("/")
    if key in memo:
        return memo[key]
    documents = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = documents.count()
    # the comment-forest view does CPU-heavy per-row expansion (token
    # chunking through higher-order lambdas); a small fixture file arrives
    # as ONE split, serializing that work — fan out when the scan gives
    # fewer splits than cores (no-op at real scale where inputs are wide)
    par = spark.sparkContext.defaultParallelism
    n_parts = documents.rdd.getNumPartitions()
    fan_out = n_parts < par
    _log.info(
        "reddit_views %s: scan has %d partitions, defaultParallelism %d -> %s",
        key, n_parts, par, f"repartition({par})" if fan_out else "no fan-out",
    )
    if fan_out:
        documents = documents.repartition(par)
    frames = {
        "subreddits": subreddits_view(documents),
        "posts": posts_view(documents),
        "comments": comments_view(documents, n_docs),
        "communities": communities_view(documents),
        "documents": documents,
    }
    views = {name: f"afp{len(memo)}_{name}" for name in frames}
    for name, df in frames.items():
        df.createOrReplaceTempView(views[name])
    memo[key] = {**frames, "n_docs": n_docs, "views": views}
    return memo[key]


# ---------------------------------------------------------------------------
# DuckDB-oracle CTE text building the *same* views (used by queries.py).
# Kept adjacent to the Spark definitions so the two stay in lock-step.
# ---------------------------------------------------------------------------

ORACLE_VIEW_CTES = f"""
subreddits AS (
  SELECT CASE WHEN CAST(substr(source, 4) AS INT) % 7 = 0 THEN 'u_' || source ELSE source END AS name,
         CAST(1000 + MOD(SUM(n_chars), 100000) AS BIGINT) AS subscribers,
         (CAST(substr(source, 4) AS INT) % 20 = 0) AS over18
  FROM documents GROUP BY source
),
posts AS (
  SELECT doc_id AS post_id,
         CASE WHEN CAST(substr(source, 4) AS INT) % 7 = 0 THEN 'u_' || source ELSE source END AS subreddit,
         substr(text, 1, 80) AS title,
         text AS selftext,
         CASE WHEN doc_id % 17 = 0 THEN '[deleted]'
              ELSE 'user' || CAST(doc_id % 50 AS VARCHAR) END AS author,
         '/r/' || source || '/comments/' || CAST(doc_id AS VARCHAR) AS permalink,
         CAST(MOD(n_chars * 37 + doc_id, 1000) AS BIGINT) AS score,
         (doc_id % 20 = 19) AS over18,
         TIMESTAMP '2024-01-01 00:00:00' + to_seconds(doc_id * {POST_TS_SPACING}) AS created_ts
  FROM documents
),
comments_base AS (
  SELECT doc_id,
         unnest(range(CAST(ceil(len(string_split(text, ' ')) / {COMMENT_CHUNK}.0) AS BIGINT))) AS pos,
         string_split(text, ' ') AS toks
  FROM documents
),
comments AS (
  SELECT doc_id * 100 + pos AS comment_id,
         MOD(doc_id * 31 + pos * 7, (SELECT COUNT(*) FROM documents)) AS post_id,
         pos,
         CASE WHEN (doc_id + pos) % 23 = 0 THEN '[removed]'
              WHEN (doc_id + pos) % 29 = 1 THEN ''
              ELSE array_to_string(list_slice(toks, pos * {COMMENT_CHUNK} + 1, pos * {COMMENT_CHUNK} + {COMMENT_CHUNK}), ' ')
         END AS body,
         CASE WHEN (doc_id + pos) % 13 = 0 THEN '[deleted]'
              ELSE 'user' || CAST((doc_id + pos) % 50 AS VARCHAR) END AS author,
         '/comments/' || CAST(doc_id * 100 + pos AS VARCHAR) AS permalink
  FROM comments_base
)
"""


def oracle_keywords_cte(keywords: list[str]) -> str:
    """DuckDB CTE ``keywords(kw_pos, keyword)``: one row per keyword, in list
    order. Quotes are doubled, so any keyword text is a string literal; an
    empty list gives an empty table."""
    if not keywords:
        return "keywords(kw_pos, keyword) AS (SELECT 1, '' WHERE false)"
    vals = ", ".join(
        "({}, '{}')".format(i + 1, kw.replace("'", "''")) for i, kw in enumerate(keywords)
    )
    return f"keywords(kw_pos, keyword) AS (SELECT * FROM (VALUES {vals}))"
