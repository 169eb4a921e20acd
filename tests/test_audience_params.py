"""The audience plans over their request parameters, against DuckDB.

``discover_communities`` and ``scan_signals`` take analyst-entered terms,
so the parameters are bound as SQL ``args`` and never formatted into the
SQL text. These tests run both plans over the parameter grid the
interactive path uses — the five time filters, both limit settings,
'r/'-prefixed subreddits, hostile term text and empty lists — and compare
the exported CSV bytes with the DuckDB reference of perfbench/oracle.py
(the same answers the benchmark checks). They also pin the build cost:
after the view memo is filled, building a plan runs no Spark job and
makes a few dozen Py4J round trips (a DataFrame-API build of the same
plan makes 1,100-1,900).
"""

from __future__ import annotations

import gc
import importlib.util
import logging
import threading
import weakref
from pathlib import Path

import pytest

from audience_finder_pro_spark.plans.audience import discover_communities, scan_signals
from audience_finder_pro_spark.plans.views import reddit_views
from audience_finder_pro_spark.sources.sinks import to_csv_bytes

TIME_FILTERS = ("all", "day", "week", "month", "year")
# src12/src13 own posts inside the 'day' window at sf0.001 (post_id >= 492)
SUBREDDITS = ["src1", "r/src2", "src3", "src12", "r/src13"]
# quote, backslash, LIKE wildcards, a comment marker, upper case, non-ASCII
HOSTILE_TERMS = ["don't", "back\\slash", "100%", "snake_case", "row -- drop", "SPARK", "Dätä", "ключ"]


def _load_oracle():
    path = Path(__file__).resolve().parents[1] / "perfbench" / "oracle.py"
    spec = importlib.util.spec_from_file_location("perfbench_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


_ORACLE = _load_oracle()


@pytest.fixture(scope="module")
def oracle(sf_smoke):
    o = _ORACLE.Oracle(f"{sf_smoke}/documents.parquet")
    yield o
    o.close()


def _discover(spark, sf, oracle, **req):
    return to_csv_bytes(discover_communities(spark, sf, **req)), oracle.csv(_ORACLE.discover_sql(**req))


def _scan(spark, sf, oracle, **req):
    return to_csv_bytes(scan_signals(spark, sf, **req)), oracle.csv(_ORACLE.scan_sql(**req))


@pytest.mark.parametrize("time_filter", TIME_FILTERS)
@pytest.mark.parametrize("comment_limit", [10, 20])
def test_discover_grid_matches_duckdb(spark, sf_smoke, oracle, time_filter, comment_limit):
    got, want = _discover(
        spark, sf_smoke, oracle,
        queries=["spark", "vector", "src1", "hash join"],
        comment_limit=comment_limit,
        search_time_filter=time_filter,
    )
    assert got.count(b"\n") > 1, "the grid point found no community"
    assert got == want


@pytest.mark.parametrize("time_filter", TIME_FILTERS)
@pytest.mark.parametrize("post_limit,comment_limit", [(25, 50), (50, 100)])
def test_scan_grid_matches_duckdb(spark, sf_smoke, oracle, time_filter, post_limit, comment_limit):
    got, want = _scan(
        spark, sf_smoke, oracle,
        subreddits=SUBREDDITS,
        keywords=["spark", "dup", "the", "hash"],
        post_limit=post_limit,
        comment_limit=comment_limit,
        time_filter=time_filter,
    )
    assert got.count(b"\n") > 1, "the grid point found no signal"
    assert got == want


def test_hostile_terms_are_bound_not_formatted(spark, sf_smoke, oracle, monkeypatch):
    """Terms with quotes, backslashes, wildcards, comment markers, upper
    case and non-ASCII match like any other text, and none of them ever
    appears in the SQL text Spark parses."""
    texts = []
    real_sql = spark.sql

    def recording_sql(text, *a, **k):
        texts.append(text)
        return real_sql(text, *a, **k)

    monkeypatch.setattr(spark, "sql", recording_sql)
    terms = HOSTILE_TERMS + ["vector"]
    got, want = _discover(
        spark, sf_smoke, oracle, queries=terms, comment_limit=20, search_time_filter="all"
    )
    assert got == want
    assert b"vector" in got and b"SPARK" in got  # upper case matches case-insensitively
    got, want = _scan(
        spark, sf_smoke, oracle,
        subreddits=SUBREDDITS + ["src4'; --"],
        keywords=terms,
        post_limit=50,
        comment_limit=100,
        time_filter="all",
    )
    assert got == want
    assert b"SPARK" in got
    assert len(texts) == 2
    for term in terms + ["src4'; --"]:
        assert all(term not in t for t in texts), term


def test_empty_term_lists_find_nothing(spark, sf_smoke, oracle):
    """Pinned: no terms -> no community; no keywords or no subreddits -> no
    signal. The answer is the header row alone."""
    got, want = _discover(
        spark, sf_smoke, oracle, queries=[], comment_limit=20, search_time_filter="all"
    )
    assert got == want and got.count(b"\n") == 1
    got, want = _scan(
        spark, sf_smoke, oracle,
        subreddits=SUBREDDITS, keywords=[], post_limit=50, comment_limit=100, time_filter="all",
    )
    assert got == want and got.count(b"\n") == 1
    # the DuckDB reference cannot spell an empty IN list; the header is the answer
    got = to_csv_bytes(scan_signals(spark, sf_smoke, [], ["the"]))
    assert got.count(b"\n") == 1


def test_build_runs_no_job_and_few_round_trips(spark, sf_smoke, monkeypatch):
    """Once reddit_views has filled its memo for an sf_dir, building either
    plan starts no Spark job and makes at most 100 Py4J round trips."""
    reddit_views(spark, sf_smoke)
    client = spark.sparkContext._gateway._gateway_client
    real_send = client.send_command
    me = threading.get_ident()
    sent = {"n": 0}

    def counting_send(*a, **k):
        if threading.get_ident() == me:  # the py4j finalizer thread is not a build cost
            sent["n"] += 1
        return real_send(*a, **k)

    builds = {
        "discover_communities": lambda: discover_communities(
            spark, sf_smoke, ["spark", "vector", "src1"], comment_limit=10, search_time_filter="week"
        ),
        "scan_signals": lambda: scan_signals(
            spark, sf_smoke, SUBREDDITS, ["spark", "dup"], post_limit=25, time_filter="month"
        ),
    }
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    for name, build in builds.items():
        group = f"afp-build-guard-{name}"
        sc.setJobGroup(group, group)
        try:
            sent["n"] = 0
            monkeypatch.setattr(client, "send_command", counting_send)
            build()
            monkeypatch.undo()
        finally:
            sc.setJobGroup("", "")
        assert list(tracker.getJobIdsForGroup(group)) == [], f"{name} ran a Spark job at build"
        assert sent["n"] <= 100, f"{name} build made {sent['n']} Py4J round trips"


def test_export_releases_the_frame_jvm_handle(spark, sf_smoke):
    """The CSV export leaves no py4j reference cycle on the exported frame:
    with the cyclic GC off, dropping the frame frees its JVM handle."""
    df = discover_communities(spark, sf_smoke, ["spark"])
    handle = weakref.ref(df._jdf)
    gc.disable()
    try:
        assert to_csv_bytes(df).count(b"\n") > 1
        del df
        assert handle() is None
    finally:
        gc.enable()


def test_view_memo_logs_fan_out_decision_once(spark, sf_smoke, caplog):
    """The memo fill logs the scan's partition count, defaultParallelism
    and whether it fanned out; a memo hit logs nothing."""
    fresh = spark.newSession()  # own memo, shared SparkContext
    with caplog.at_level(logging.INFO, logger="audience_finder_pro_spark.plans.views"):
        v = reddit_views(fresh, sf_smoke)
        reddit_views(fresh, sf_smoke)
    records = [r.getMessage() for r in caplog.records if r.name.endswith("plans.views")]
    assert len(records) == 1, records
    par = spark.sparkContext.defaultParallelism
    n_parts = spark.read.parquet(f"{sf_smoke}/documents.parquet").rdd.getNumPartitions()
    assert f"scan has {n_parts} partitions, defaultParallelism {par}" in records[0]
    assert ("repartition(" in records[0]) == (n_parts < par)
    assert v["n_docs"] == v["documents"].count() == 500
