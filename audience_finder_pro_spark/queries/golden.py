"""Reference-behavior golden queries (SURVEY §5 test strategy item 2).

The two reference pipelines run against the Reddit-shaped views
(plans/views.py) with pinned parameters; the DuckDB oracle rebuilds the
identical views as CTEs and mirrors every step, quirks included:
score weights 1/2/3 (app.py:24-26), sorted tag serialization
(app.py:68), all-matches posts (app.py:98), first-match-wins comments
(app.py:142), u_/NSFW/tombstone/blank filters (app.py:41,49,93,121-129).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from audience_finder_pro_spark.operators.keyword_match import keyword_theta_join
from audience_finder_pro_spark.plans.audience import discover_communities, scan_signals
from audience_finder_pro_spark.plans.views import (
    ORACLE_VIEW_CTES,
    POST_TS_SPACING,
    keywords_df,
)
from audience_finder_pro_spark.session import load_table

QUERIES = {}
ORACLES = {}


def _q(name: str, oracle: str | None):
    def deco(fn):
        QUERIES[name] = fn
        ORACLES[name] = oracle
        return fn

    return deco


SIGNAL_SUBREDDITS = ["r/src1", "src2", "src3", "src4", "src5"]
SIGNAL_KEYWORDS = ["spark", "vector", "dup", "slow merge"]
DISCOVERY_QUERIES = ["spark", "src1", "vector"]

_KW_VALUES = ", ".join(f"({i + 1}, '{kw}')" for i, kw in enumerate(SIGNAL_KEYWORDS))
_Q_VALUES = ", ".join(f"({i + 1}, '{q}')" for i, q in enumerate(sorted(DISCOVERY_QUERIES)))

_NORM = "trim(regexp_replace({c}, '\\s+', ' ', 'g'))"


def _time_pred_sql(hours: int) -> str:
    """created_ts window predicate, END of the synthetic timeline as as_of.

    Deliberately expressed on created_ts (the semantic form) while the
    Spark plan filters the rewritten post_id key — the differential
    compare proves the rewrite correct."""
    return (
        "AND created_ts >= TIMESTAMP '2024-01-01 00:00:00'"
        f" + to_seconds((SELECT count(*) FROM documents) * {POST_TS_SPACING} - {hours * 3600})"
    )


def _signal_oracle(time_pred: str = "") -> str:
    return f"""
WITH {ORACLE_VIEW_CTES.strip()},
keywords(kw_pos, keyword) AS (SELECT * FROM (VALUES {_KW_VALUES})),
top_posts AS (
  SELECT * FROM posts
  WHERE subreddit IN ('src1', 'src2', 'src3', 'src4', 'src5') {time_pred}
  QUALIFY row_number() OVER (PARTITION BY subreddit ORDER BY score DESC, post_id) <= 50
),
live_posts AS (
  SELECT *, {_NORM.format(c="title || ' ' || selftext")} AS content
  FROM top_posts
  WHERE author IS NOT NULL AND author <> '[deleted]'
),
post_matches AS (
  SELECT p.post_id, string_agg(DISTINCT k.keyword, ', ' ORDER BY k.keyword) AS matched
  FROM live_posts p JOIN keywords k ON contains(lower(p.content), lower(k.keyword))
  GROUP BY p.post_id
),
post_signals AS (
  SELECT p.subreddit AS signal_subreddit, m.matched, 'Post' AS signal_type,
         {_NORM.format(c="p.title")} AS signal_text, p.author, p.permalink AS link,
         p.post_id AS src_id
  FROM live_posts p JOIN post_matches m ON p.post_id = m.post_id
),
sampled AS (
  SELECT c.*, t.subreddit FROM comments c JOIN top_posts t ON c.post_id = t.post_id
  QUALIFY row_number() OVER (PARTITION BY c.post_id ORDER BY c.pos, c.comment_id) <= 100
),
live_comments AS (
  SELECT *, {_NORM.format(c="body")} AS norm_body
  FROM sampled
  WHERE author IS NOT NULL AND author <> '[deleted]'
    AND body NOT IN ('[deleted]', '[removed]')
    AND length({_NORM.format(c="body")}) > 0
),
comment_first AS (
  SELECT * FROM (
    SELECT c.subreddit, c.norm_body, c.author, c.permalink, c.comment_id, k.keyword,
           row_number() OVER (PARTITION BY c.comment_id ORDER BY k.kw_pos) AS rn
    FROM live_comments c JOIN keywords k ON contains(lower(c.norm_body), lower(k.keyword))
  ) WHERE rn = 1
),
comment_signals AS (
  SELECT subreddit AS signal_subreddit, keyword AS matched, 'Comment' AS signal_type,
         norm_body AS signal_text, author, permalink AS link, comment_id AS src_id
  FROM comment_first
)
SELECT * FROM post_signals UNION ALL SELECT * FROM comment_signals
"""


_SIGNAL_ORACLE = _signal_oracle()

# Wide merge #23 (r9, funds quality_classifier's driver slot): the v1
# export's derived columns ride the flagship frame as extra projections —
# same base plan, zero additional shuffles, one scan. The v1 expressions
# (comment truncation v1:75, newline stripping v1:61,253, constant
# enrichment v1:145-147) stay driver-hash-verified through these columns.
_SIGNAL_MERGED_ORACLE = f"""
WITH base AS ({_SIGNAL_ORACLE.strip()})
SELECT base.*,
       CASE WHEN signal_type = 'Comment'
            THEN substr(replace(signal_text, chr(10), ' '), 1, 300) || '...'
            ELSE replace(signal_text, chr(10), ' ') END AS v1_text,
       'Not Started' AS status, '' AS priority, '' AS notes
FROM base
"""


@_q("signal_scan", _SIGNAL_MERGED_ORACLE)
def signal_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship query — the reference's opportunity scan end-to-end (SURVEY
    §7.1), carrying the v1 export's derived columns (wide merge #23, r9):
    ``v1_text`` is the CSV-hygiene form of ``signal_text`` (newline-stripped,
    comments truncated to 300 chars + '...', v1:61,75,253) and
    status/priority/notes are the v1 tracking-sheet constants (v1:145-147).
    Pure sibling projections over the same frame — the keyword-match plan
    shape is unchanged (tests/test_plan_shapes.py pins no-join)."""
    from audience_finder_pro_spark.functions.text import strip_newlines, truncate_ellipsis

    base = scan_signals(
        spark,
        sf_dir,
        subreddits=SIGNAL_SUBREDDITS,
        keywords=SIGNAL_KEYWORDS,
        post_limit=50,
        comment_limit=100,
    )
    clean = strip_newlines(F.col("signal_text"))
    return base.select(
        "*",
        F.when(F.col("signal_type") == "Comment", truncate_ellipsis(clean, 300))
        .otherwise(clean)
        .alias("v1_text"),
        F.lit("Not Started").alias("status"),
        F.lit("").alias("priority"),
        F.lit("").alias("notes"),
    )


@_q("signal_scan_month", _signal_oracle(_time_pred_sql(720)))
def signal_scan_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship scan with the reference's default time_filter='month'
    (app.py:83,256): only posts created in the last 30 days of the
    synthetic timeline compete for the top-k slots. The Spark plan pushes
    the window as a post_id PushedFilter (monotone-timeline rewrite,
    plans/audience._min_post, bound as :min_post); the oracle filters
    created_ts."""
    return scan_signals(
        spark,
        sf_dir,
        subreddits=SIGNAL_SUBREDDITS,
        keywords=SIGNAL_KEYWORDS,
        post_limit=50,
        comment_limit=100,
        time_filter="month",
    )


_DISCOVERY_ORACLE = f"""
WITH {ORACLE_VIEW_CTES.strip()},
queries(kw_pos, keyword) AS (SELECT * FROM (VALUES {_Q_VALUES})),
direct AS (
  SELECT s.name AS community, q.keyword AS query, 'Direct Search' AS found_via
  FROM subreddits s JOIN queries q ON contains(lower(s.name), lower(q.keyword))
  WHERE NOT starts_with(s.name, 'u_')
),
post_hits AS (
  SELECT p.subreddit AS community, q.keyword AS query, 'Relevant Post' AS found_via
  FROM posts p JOIN queries q
    ON (contains(lower({_NORM.format(c="p.title")}), lower(q.keyword))
        OR contains(lower({_NORM.format(c="p.selftext")}), lower(q.keyword)))
  WHERE NOT p.over18 AND NOT starts_with(p.subreddit, 'u_')
),
sampled AS (
  SELECT * FROM comments
  QUALIFY row_number() OVER (PARTITION BY post_id ORDER BY pos, comment_id) <= 20
),
comment_hits AS (
  SELECT DISTINCT p.subreddit AS community, q.keyword AS query, 'Relevant Comment' AS found_via
  FROM sampled c
  JOIN posts p ON c.post_id = p.post_id
  JOIN queries q ON contains(lower({_NORM.format(c="c.body")}), lower(q.keyword))
  WHERE NOT p.over18 AND NOT starts_with(p.subreddit, 'u_')
),
tagged AS (
  SELECT * FROM direct
  UNION ALL SELECT * FROM post_hits
  UNION ALL SELECT * FROM comment_hits
),
merged AS (
  SELECT community,
         string_agg(DISTINCT found_via, ', ' ORDER BY found_via) AS found_via,
         string_agg(DISTINCT query, ', ' ORDER BY query) AS found_by_keywords,
         max(CASE WHEN found_via = 'Direct Search' THEN 1 ELSE 0 END)
         + 2 * max(CASE WHEN found_via = 'Relevant Post' THEN 1 ELSE 0 END)
         + 3 * max(CASE WHEN found_via = 'Relevant Comment' THEN 1 ELSE 0 END) AS relevance_score
  FROM tagged GROUP BY community
)
SELECT 'r/' || m.community AS community,
       CAST(m.relevance_score AS INT) AS relevance_score,
       m.found_via,
       m.found_by_keywords,
       s.subscribers AS members,
       'https://www.reddit.com/r/' || m.community AS community_link,
       'https://www.reddit.com/r/' || m.community || '/top/?t=month' AS top_posts_link
FROM merged m LEFT JOIN subreddits s ON s.name = m.community
"""


@_q("community_discovery", _DISCOVERY_ORACLE)
def community_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    return discover_communities(spark, sf_dir, queries=DISCOVERY_QUERIES, comment_limit=20)


_KEYWORD_DOC_FREQ_ORACLE = f"""
    WITH keywords(kw_pos, keyword) AS (SELECT * FROM (VALUES {_KW_VALUES}))
    SELECT k.keyword, count(*) AS n_docs
    FROM documents d
    JOIN keywords k ON contains(lower({_NORM.format(c="d.text")}), lower(k.keyword))
    GROUP BY k.keyword
"""


# oracle rides the merged quarantine_report frame (merge #19)
@_q("keyword_doc_freq", None)
def keyword_doc_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 in isolation: broadcast theta-join document frequency per keyword."""
    docs = load_table(spark, sf_dir, "documents")
    kdf = keywords_df(spark, SIGNAL_KEYWORDS)
    pairs = keyword_theta_join(docs, kdf, text_col="text")
    return pairs.groupBy("keyword").agg(F.count("*").alias("n_docs"))


_QUARANTINE_ORACLE = f"""
WITH {ORACLE_VIEW_CTES.strip()},
post_bad AS (
  SELECT 'post' AS entity, 'author_tombstone' AS reason
  FROM posts WHERE author = '[deleted]'
),
comment_bad AS (
  SELECT 'comment' AS entity,
         CASE WHEN author = '[deleted]' THEN 'author_tombstone'
              WHEN body IN ('[deleted]', '[removed]') THEN 'body_tombstone'
              ELSE 'body_blank' END AS reason
  FROM comments
  WHERE author = '[deleted]'
     OR body IN ('[deleted]', '[removed]')
     OR length({_NORM.format(c="body")}) = 0
)
SELECT entity, reason, count(*) AS n_rows
FROM (SELECT * FROM post_bad UNION ALL SELECT * FROM comment_bad)
GROUP BY entity, reason
UNION ALL
SELECT 'keyword' AS entity, keyword AS reason, n_docs AS n_rows
FROM ({_KEYWORD_DOC_FREQ_ORACLE})
"""


@_q("quarantine_report", _QUARANTINE_ORACLE)
def quarantine_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-reason counts of rows the golden pipelines quarantine (SURVEY §4.1):
    the reference skips-and-warns on tombstoned/blank rows (app.py:93,
    121-129); the engine routes them through quarantine_invalid so dropped
    data is observable, and this query is the observability surface —
    counts by (entity, reason), first-match reason priority mirroring the
    pipelines' filter order. Merge #19 (r8, funds mixture_weights' driver
    slot): the J1 keyword×documents doc-frequency counts ride along as an
    'keyword' entity leg — same (string, string, bigint) shape, zero
    padding; keyword_doc_freq stays declared and callable with its
    standalone oracle as a module constant."""
    from audience_finder_pro_spark.functions.text import norm_ws
    from audience_finder_pro_spark.plans.views import reddit_views
    from audience_finder_pro_spark.sources.quarantine import quarantine_invalid

    v = reddit_views(spark, sf_dir)
    posts, comments = v["posts"], v["comments"]

    p_reason = F.when(F.col("author") == "[deleted]", "author_tombstone")
    c_reason = (
        F.when(F.col("author") == "[deleted]", "author_tombstone")
        .when(F.col("body").isin("[deleted]", "[removed]"), "body_tombstone")
        .when(F.length(norm_ws("body")) == 0, "body_blank")
    )
    _, bad_p = quarantine_invalid(
        posts.withColumn("reason", p_reason), F.col("reason").isNull(), ["reason"]
    )
    _, bad_c = quarantine_invalid(
        comments.withColumn("reason", c_reason), F.col("reason").isNull(), ["reason"]
    )
    rep_p = bad_p.groupBy("reason").agg(F.count("*").alias("n_rows")).withColumn(
        "entity", F.lit("post")
    )
    rep_c = bad_c.groupBy("reason").agg(F.count("*").alias("n_rows")).withColumn(
        "entity", F.lit("comment")
    )
    rep_k = keyword_doc_freq(spark, sf_dir).select(
        F.lit("keyword").alias("entity"),
        F.col("keyword").alias("reason"),
        F.col("n_docs").alias("n_rows"),
    )
    return rep_p.unionByName(rep_c).select("entity", "reason", "n_rows").unionByName(rep_k)


_SIGNAL_V1_ORACLE = f"""
WITH base AS ({_SIGNAL_ORACLE.strip()})
SELECT signal_subreddit, matched, signal_type,
       CASE WHEN signal_type = 'Comment'
            THEN substr(replace(signal_text, chr(10), ' '), 1, 300) || '...'
            ELSE replace(signal_text, chr(10), ' ') END AS signal_text,
       author, link, src_id,
       'Not Started' AS status, '' AS priority, '' AS notes
FROM base
"""


# oracle slot moved to the signal_scan carrier (wide merge #23, r9) —
# the standalone oracle stays as _SIGNAL_V1_ORACLE with a pytest hash
# gate (tests/test_operators.py merge-#23 section)
@_q("signal_scan_v1_export", None)
def signal_scan_v1_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The v1 reference's CSV-download shape (SURVEY P3/F3/F5): comment text
    truncated to 300 chars + '...' (v1:75), newline-stripped for CSV hygiene
    (v1:61,253), constant enrichment columns Status/Priority/Notes
    (v1:145-147) appended for the downstream tracking sheet. Demoted r9
    (wide merge #23): the identical derived expressions are driver-verified
    as the signal_scan carrier's v1_text/status/priority/notes columns; this
    stays the callable export shape (renames v1_text back to signal_text)."""
    return signal_scan(spark, sf_dir).select(
        "signal_subreddit",
        "matched",
        "signal_type",
        F.col("v1_text").alias("signal_text"),
        "author",
        "link",
        "src_id",
        "status",
        "priority",
        "notes",
    )
