"""The reference's two analytic programs, each one parameterized Spark SQL text.

- ``discover_communities`` ← ``find_communities_hybrid`` (app.py:31-72):
  three tagged sources unioned, merged per community (GROUP BY +
  collect_set replaces the dict-upsert at app.py:42-52), scored by tag
  weights (app.py:22-27), ranked (app.py:71), serialized like app.py:68.
- ``scan_signals`` ← ``find_buying_signals`` (app.py:74-151) + the
  caller's union loop (app.py:294-303): per-subreddit top-k posts,
  tombstone filters, keyword match (all-matches for posts app.py:98,
  first-match-wins for comments app.py:132-142), one signal row per hit.

Why SQL text with bound parameters: an interactive session calls both
plans with new terms on every step, so the build is paid per request. A
DataFrame-API build of the same plans makes 1,100-1,900 Py4J round trips
and takes 0.3-0.8 s of driver time before Spark runs anything (4 cores,
5k docs). Here the text is fixed, the views it reads are the session temp
views ``plans.views.reddit_views`` registers once per ``sf_dir``, and
terms, keywords, subreddits, limits and the time-window bound travel as
named ``args``: one ``spark.sql`` call of 30-50 round trips. User text
is bound, never formatted into the text, so a term like ``don't`` or
``--`` is data, not SQL. The only text substituted is the memo's own
temp-view names.

Determinism deviations from the ref (documented per SURVEY §7.4):
- Members is the dim-defined subscriber count (1000 + Σn_chars % 1e5
  per source, computed in-pass by the merge GROUP BY), not "first
  sighting" arrival order (A2); first-match-wins is keyword list order
  (J2); every sort ends in a unique key; tag/keyword sets serialize
  sorted.

Scale shape: the keyword/query side is an array literal matched inside
a projection (no join, no corpus shuffle); the only wide exchanges are
the per-community aggregation and the per-group top-k windows — both
keyed on low-skew ids, and each window keeps a map-side partial top-k
(the limit is a bound literal, so InferWindowGroupLimit applies). The
ref's sequential per-subreddit loop (app.py:294) becomes one partitioned
plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from audience_finder_pro_spark.plans.views import POST_TS_SPACING, reddit_views

# the reference's time_filter radio (app.py:256); 'all' = no window
TIME_FILTER_HOURS = {"day": 24, "week": 168, "month": 720, "year": 8760}

# whitespace normalization, the SQL spelling of functions.text.norm_ws
_NORM = "trim(regexp_replace({}, '\\\\s+', ' '))"

# Time window (app.py:83): created_ts >= as_of - window, with as_of the
# synthetic timeline's end. created_ts is monotone in post_id, so the
# predicate is exactly post_id >= :min_post (see _min_post), a base-column
# comparison that reaches the parquet scan as a PushedFilter. For 'all'
# :min_post is NULL and the predicate folds away.
_WINDOW = "(:min_post IS NULL OR post_id >= :min_post)"

# Three tagged hit legs and a members leg, one UNION ALL, merged per
# community. The members leg (1000 + Σn_chars % 100000 per source, the
# subreddits dim) rides the union instead of a post-merge dim join, so the
# merge GROUP BY computes it in-pass; communities with no hit (members
# rows only) drop out at size(tags) > 0. Direct search matches the
# per-document display name (app.py:39-43): duplicates collapse in the
# collect_set merge. Comments (app.py:55-59): the first :comment_limit per
# post by position, existential per community through the same merge.
_DISCOVER_SQL = f"""
WITH direct AS (
  SELECT community,
         explode(filter(:terms, q -> contains(lower(community), lower(q)))) AS query,
         'Direct Search' AS found_via,
         CAST(NULL AS BIGINT) AS n_chars
  FROM {{communities}}
  WHERE NOT startswith(community, 'u_')
),
post_hits AS (
  SELECT subreddit AS community,
         explode(filter(:terms, q -> contains(lower({_NORM.format("title")}), lower(q))
                                  OR contains(lower({_NORM.format("selftext")}), lower(q)))) AS query,
         'Relevant Post' AS found_via,
         CAST(NULL AS BIGINT) AS n_chars
  FROM {{posts}}
  WHERE {_WINDOW} AND NOT over18 AND NOT startswith(subreddit, 'u_')
),
sampled AS (
  SELECT post_id, body FROM (
    SELECT post_id, body,
           row_number() OVER (PARTITION BY post_id ORDER BY pos, comment_id) AS rn
    FROM {{comments}}
  ) WHERE rn <= :comment_limit
),
comment_hits AS (
  SELECT p.subreddit AS community,
         explode(filter(:terms, q -> contains(lower({_NORM.format("c.body")}), lower(q)))) AS query,
         'Relevant Comment' AS found_via,
         CAST(NULL AS BIGINT) AS n_chars
  FROM sampled c JOIN {{posts}} p ON c.post_id = p.post_id
  WHERE NOT p.over18 AND NOT startswith(p.subreddit, 'u_')
),
members AS (
  SELECT community, CAST(NULL AS STRING) AS query, CAST(NULL AS STRING) AS found_via,
         CAST(n_chars AS BIGINT) AS n_chars
  FROM {{communities}}
),
merged AS (
  SELECT community,
         array_sort(collect_set(found_via)) AS tags,
         array_join(array_sort(collect_set(found_via)), ', ') AS found_via,
         array_join(array_sort(collect_set(query)), ', ') AS found_by_keywords,
         CAST(1000 + sum(n_chars) % 100000 AS BIGINT) AS subscribers
  FROM (
    SELECT * FROM direct
    UNION ALL SELECT * FROM post_hits
    UNION ALL SELECT * FROM comment_hits
    UNION ALL SELECT * FROM members
  )
  GROUP BY community
)
SELECT concat('r/', community) AS community,
       CAST(CASE WHEN array_contains(tags, 'Direct Search') THEN 1 ELSE 0 END
            + CASE WHEN array_contains(tags, 'Relevant Post') THEN 2 ELSE 0 END
            + CASE WHEN array_contains(tags, 'Relevant Comment') THEN 3 ELSE 0 END AS INT)
         AS relevance_score,
       found_via,
       found_by_keywords,
       subscribers AS members,
       concat('https://www.reddit.com/r/', community) AS community_link,
       concat('https://www.reddit.com/r/', community, '/top/?t=month') AS top_posts_link
FROM merged
WHERE size(tags) > 0
ORDER BY relevance_score DESC, members DESC, community
"""

# Top :post_limit posts per wanted subreddit by score (app.py:83), with a
# unique tiebreak. Posts: tombstone filter (app.py:93), the sorted set of
# every keyword the text contains (app.py:98,102). Comments: the first
# :comment_limit per top post (app.py:115-116), tombstone/empty filters
# (app.py:121-129), the first keyword in list order (app.py:132-142) —
# get() is NULL when none matches.
_SCAN_SQL = f"""
WITH top_posts AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY subreddit ORDER BY score DESC, post_id) AS rn
    FROM {{posts}}
    WHERE array_contains(:subreddits, subreddit) AND {_WINDOW}
  ) WHERE rn <= :post_limit
),
post_signals AS (
  SELECT subreddit AS signal_subreddit, matched, 'Post' AS signal_type,
         {_NORM.format("title")} AS signal_text, author, permalink AS link, post_id AS src_id
  FROM (
    SELECT *, array_join(array_sort(filter(:keywords, k -> contains(lower(content), lower(k)))), ', ')
                AS matched
    FROM (
      SELECT *, {_NORM.format("concat_ws(' ', title, selftext)")} AS content
      FROM top_posts
      WHERE author IS NOT NULL AND author != '[deleted]'
    )
  )
  WHERE matched != ''
),
sampled AS (
  SELECT * FROM (
    SELECT c.*, t.subreddit,
           row_number() OVER (PARTITION BY c.post_id ORDER BY c.pos, c.comment_id) AS rn
    FROM {{comments}} c JOIN top_posts t ON c.post_id = t.post_id
  ) WHERE rn <= :comment_limit
),
comment_signals AS (
  SELECT subreddit AS signal_subreddit, matched, 'Comment' AS signal_type,
         norm_body AS signal_text, author, permalink AS link, comment_id AS src_id
  FROM (
    SELECT *, get(filter(:keywords, k -> contains(lower(norm_body), lower(k))), 0) AS matched
    FROM (
      SELECT *, {_NORM.format("body")} AS norm_body
      FROM sampled
      WHERE author IS NOT NULL AND author != '[deleted]' AND body NOT IN ('[deleted]', '[removed]')
    )
    WHERE length(norm_body) > 0
  )
  WHERE matched IS NOT NULL
)
SELECT * FROM post_signals
UNION ALL SELECT * FROM comment_signals
ORDER BY signal_subreddit, signal_type, src_id
"""


def _min_post(n_docs: int, time_filter: str) -> int | None:
    """Lowest post_id inside the ``time_filter`` window, NULL for 'all'.

    The window is created_ts >= as_of - hours, with as_of = the timeline's
    end (epoch + n_docs·spacing). created_ts is monotone in post_id
    (views.POST_TS_EPOCH/POST_TS_SPACING), so that is EXACTLY post_id >=
    n_docs - hours·3600/spacing. The DuckDB oracle filters on created_ts
    itself, so this rewrite is differentially verified, not just asserted.
    """
    if time_filter == "all":
        return None
    if time_filter not in TIME_FILTER_HOURS:
        raise ValueError(f"time_filter must be one of {[*TIME_FILTER_HOURS, 'all']}")
    return n_docs - TIME_FILTER_HOURS[time_filter] * 3600 // POST_TS_SPACING


def discover_communities(
    spark: SparkSession,
    sf_dir: str,
    queries: list[str],
    comment_limit: int = 20,
    search_time_filter: str = "all",
) -> DataFrame:
    """Ranked community table (schema per SURVEY §1.2, app.py:72).

    ``queries`` match case-insensitively against community names, post
    title/selftext and sampled comment bodies; an empty list finds no
    community. ``search_time_filter`` models the hardcoded
    time_filter="month" on the reference's post search (app.py:47); 'all'
    (default) keeps the declared golden query's historical shape.
    """
    v = reddit_views(spark, sf_dir)
    return spark.sql(
        _DISCOVER_SQL.format(**v["views"]),
        args={
            "terms": sorted(queries),  # canonical query order, ref app.py:205
            "comment_limit": comment_limit,
            "min_post": _min_post(v["n_docs"], search_time_filter),
        },
    )


def scan_signals(
    spark: SparkSession,
    sf_dir: str,
    subreddits: list[str],
    keywords: list[str],
    post_limit: int = 50,
    comment_limit: int = 100,
    time_filter: str = "all",
) -> DataFrame:
    """Signal rows (Subreddit, Match, Type, Text, Author, Link) — app.py:100-141.

    ``subreddits`` may carry the 'r/' prefix (app.py:296). An empty
    ``keywords`` list matches nothing. ``time_filter`` reproduces
    subreddit.top(time_filter=...) at app.py:83: only posts created inside
    the window compete for the top-k slots.
    """
    v = reddit_views(spark, sf_dir)
    return spark.sql(
        _SCAN_SQL.format(**v["views"]),
        args={
            "subreddits": [s.replace("r/", "") for s in subreddits],
            "keywords": list(keywords),
            "post_limit": post_limit,
            "comment_limit": comment_limit,
            "min_post": _min_post(v["n_docs"], time_filter),
        },
    )
