"""DuckDB reference answers for the audience requests.

The SQL mirrors ``plans.audience`` for arbitrary request parameters,
built on the engine's own oracle view CTEs (``plans.views``), so a
response is checked against an independent engine on the same parquet
file. Results are rendered through the same pandas CSV encoding the
engine's ``to_csv_bytes`` uses, and compared byte for byte.
"""

from __future__ import annotations

import duckdb

from audience_finder_pro_spark.plans.audience import TIME_FILTER_HOURS
from audience_finder_pro_spark.plans.views import (
    ORACLE_VIEW_CTES,
    POST_TS_SPACING,
    oracle_keywords_cte,
)

_NORM = "trim(regexp_replace({c}, '\\s+', ' ', 'g'))"


def _time_pred(time_filter: str) -> str:
    if time_filter == "all":
        return ""
    hours = TIME_FILTER_HOURS[time_filter]
    return (
        "AND created_ts >= TIMESTAMP '2024-01-01 00:00:00'"
        f" + to_seconds((SELECT count(*) FROM documents) * {POST_TS_SPACING} - {hours * 3600})"
    )


def _quoted(values: list[str]) -> str:
    return ", ".join("'" + v.replace("'", "''") + "'" for v in values)


def discover_sql(queries: list[str], comment_limit: int, search_time_filter: str) -> str:
    q_cte = oracle_keywords_cte(sorted(queries)).replace("keywords(", "queries(", 1)
    return f"""
WITH {ORACLE_VIEW_CTES.strip()},
{q_cte},
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
  WHERE NOT p.over18 AND NOT starts_with(p.subreddit, 'u_') {_time_pred(search_time_filter)}
),
sampled AS (
  SELECT * FROM comments
  QUALIFY row_number() OVER (PARTITION BY post_id ORDER BY pos, comment_id) <= {comment_limit}
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
ORDER BY relevance_score DESC, members DESC, community
"""


def scan_sql(
    subreddits: list[str],
    keywords: list[str],
    post_limit: int,
    comment_limit: int,
    time_filter: str,
) -> str:
    wanted = _quoted([s.replace("r/", "") for s in subreddits])
    return f"""
WITH {ORACLE_VIEW_CTES.strip()},
{oracle_keywords_cte(keywords)},
top_posts AS (
  SELECT * FROM posts
  WHERE subreddit IN ({wanted}) {_time_pred(time_filter)}
  QUALIFY row_number() OVER (PARTITION BY subreddit ORDER BY score DESC, post_id) <= {post_limit}
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
  QUALIFY row_number() OVER (PARTITION BY c.post_id ORDER BY c.pos, c.comment_id) <= {comment_limit}
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
ORDER BY signal_subreddit, signal_type, src_id
"""


class Oracle:
    """One in-memory DuckDB connection over a ``documents`` parquet file."""

    def __init__(self, documents_path: str):
        self._con = duckdb.connect()
        self._con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{documents_path}')"
        )

    def csv(self, sql: str) -> bytes:
        return self._con.execute(sql).df().to_csv(index=False).encode("utf-8")

    def close(self) -> None:
        self._con.close()
