"""Unit + property tests for engine operators and plumbing
(SURVEY §5 item 3: dedup idempotence, union commutativity, filter⊆scan,
top-k tie-break stability; plus sinks/cache/control wrappers).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from audience_finder_pro_spark.cache import TTLCache
from audience_finder_pro_spark.operators.asof import asof_join
from audience_finder_pro_spark.operators.dedup import exact_dedup
from audience_finder_pro_spark.operators.keyword_match import (
    all_matches_agg,
    first_match_wins,
    keyword_theta_join,
)
from audience_finder_pro_spark.operators.topk import top_k_per_group
from audience_finder_pro_spark.session import load_table
from audience_finder_pro_spark.sources.sinks import to_csv_bytes, write_csv


def test_asof_join_micro(spark):
    """Hand-checked as-of semantics incl. exact-tie (ts equal) inclusion."""
    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (1, 5, "c"), (2, 10, "d")],
        "user_id long, t long, tag string",
    ).withColumn("ts", F.timestamp_seconds("t"))
    right = spark.createDataFrame(
        [(1, 10, 100.0), (1, 15, 150.0), (2, 99, 900.0)],
        "user_id long, t long, val double",
    ).withColumn("ts", F.timestamp_seconds("t")).select("user_id", "ts", "val")
    out = asof_join(
        left.select("user_id", "ts", "tag"), right, ["user_id"], "ts", "ts", ["val"]
    )
    got = {r.tag: r.val for r in out.collect()}
    assert got == {"a": 100.0, "b": 150.0, "c": None, "d": None}


def test_asof_join_whole_row_semantics(spark):
    """A right row with NULL in one of several value cols must NOT mix
    columns from different right rows — merge_asof/ASOF carries whole rows."""
    left = spark.createDataFrame([(1, 30, "x")], "k long, t long, tag string").withColumn(
        "ts", F.timestamp_seconds("t")
    )
    right = spark.createDataFrame(
        [(1, 10, 100.0, "old"), (1, 20, None, "new")],
        "k long, t long, v double, label string",
    ).withColumn("ts", F.timestamp_seconds("t")).select("k", "ts", "v", "label")
    out = asof_join(
        left.select("k", "ts", "tag"), right, ["k"], "ts", "ts", ["v", "label"]
    ).collect()
    assert len(out) == 1
    # latest right row (t=20) wins WHOLE: v is its NULL, not 100.0 from t=10
    assert out[0]["v"] is None and out[0]["label"] == "new"


def test_asof_join_reserved_name_guard(spark):
    df = spark.createDataFrame([(1, 1, 1)], "k long, _ts long, v long")
    with pytest.raises(ValueError, match="reserved"):
        asof_join(df, df, ["k"], "_ts", "_ts", ["v"])


def test_range_join_subsecond_and_boundary(spark):
    """An interval whose fractional-second end crosses a bucket boundary
    must cover the last bucket (the old unix_timestamp form truncated to
    whole seconds and silently dropped the match), and an end exactly on
    a boundary must not join points at that boundary."""
    from audience_finder_pro_spark.operators.asof import range_join

    left = spark.createDataFrame(
        [("in_tail", "2024-01-01 01:00:00.250"), ("at_bound", "2024-01-01 02:00:00.000")],
        "pid string, t string",
    ).select("pid", F.to_timestamp("t").alias("pt"))
    right = spark.createDataFrame(
        [
            ("i1", "2024-01-01 00:59:59.000", "2024-01-01 01:00:00.500"),
            ("i2", "2024-01-01 01:30:00.000", "2024-01-01 02:00:00.000"),
        ],
        "iid string, s string, e string",
    ).select("iid", F.to_timestamp("s").alias("rs"), F.to_timestamp("e").alias("re"))
    out = range_join(left, right, "pt", "rs", "re", bucket_width_expr="3600")
    got = [(r.pid, r.iid) for r in out.collect()]
    # in_tail ∈ i1 (end 01:00:00.500 spills into the hour-1 bucket);
    # at_bound is NOT in i2 (end-exclusive)
    assert got == [("in_tail", "i1")]


def test_topk_tiebreak_stable(spark, sf_smoke):
    """Same scores must resolve identically across runs (unique tiebreak key)."""
    orders = load_table(spark, sf_smoke, "orders")
    a = top_k_per_group(orders, ["o_custkey"], [F.col("o_totalprice").desc(), F.col("o_orderkey")], 2)
    b = top_k_per_group(orders, ["o_custkey"], [F.col("o_totalprice").desc(), F.col("o_orderkey")], 2)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_exact_dedup_idempotent(spark, sf_smoke):
    docs = load_table(spark, sf_smoke, "documents")
    once = exact_dedup(docs)
    twice = exact_dedup(once.select("doc_id", "text", "lang", "source", "n_chars"))
    assert once.count() == twice.count()


def test_union_commutative_under_canonical_sort(spark, sf_smoke):
    docs = load_table(spark, sf_smoke, "documents").select("doc_id")
    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 2 == 1)
    ab = sorted(r.doc_id for r in a.unionByName(b).collect())
    ba = sorted(r.doc_id for r in b.unionByName(a).collect())
    assert ab == ba


def test_filter_subset_of_scan(spark, sf_smoke):
    li = load_table(spark, sf_smoke, "lineitem")
    assert li.filter(F.col("l_quantity") > 25).count() <= li.count()


def test_keyword_match_first_vs_all(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "beta only"), (3, "nothing here")],
        "doc_id long, text string",
    )
    kws = spark.createDataFrame(
        [(1, "beta"), (2, "alpha")], "kw_pos int, keyword string"
    )
    pairs = keyword_theta_join(docs, kws)
    # all-matches: doc 1 hits both, serialized sorted
    allm = {r.doc_id: r.matched for r in all_matches_agg(pairs, ["doc_id"], out_col="matched").collect()}
    assert allm == {1: "alpha, beta", 2: "beta"}
    # first-match-wins by kw_pos: doc 1 keeps 'beta' (kw_pos 1)
    first = {r.doc_id: r.keyword for r in first_match_wins(pairs, "doc_id").collect()}
    assert first == {1: "beta", 2: "beta"}


def test_csv_sinks(spark, sf_smoke, tmp_path):
    df = load_table(spark, sf_smoke, "region")
    data = to_csv_bytes(df.orderBy("r_regionkey"))
    assert data.decode("utf-8").splitlines()[0] == "r_regionkey,r_name"
    out = tmp_path / "csv_out"
    write_csv(df, str(out))
    back = spark.read.option("header", True).csv(str(out))
    assert back.count() == df.count()


def test_excel_sink_roundtrip(spark):
    """S6 Excel sink: the stdlib OOXML writer must produce a structurally
    valid workbook — correct package parts, typed cells, escaped strings.
    Verified by unzip + XML parse (no xlsx reader in this container; when
    openpyxl exists pandas takes over and this still passes the package
    checks)."""
    import io
    import zipfile
    import xml.etree.ElementTree as ET

    from audience_finder_pro_spark.sources.sinks import to_excel_bytes

    df = spark.createDataFrame(
        [(1, "plain", 1.5, True), (2, "needs <escaping> & quotes", None, False)],
        "id long, label string, val double, flag boolean",
    )
    data = to_excel_bytes(df.orderBy("id"))
    with zipfile.ZipFile(io.BytesIO(data)) as z:
        names = set(z.namelist())
        assert {"[Content_Types].xml", "xl/workbook.xml"} <= names
        sheet_name = next(n for n in names if n.startswith("xl/worksheets/"))
        root = ET.fromstring(z.read(sheet_name))
    try:
        import openpyxl  # noqa: F401

        return  # pandas/openpyxl path: strings live in sharedStrings, not
        # inline — the package checks above are the cross-engine contract
    except ImportError:
        pass
    ns = {"m": "http://schemas.openxmlformats.org/spreadsheetml/2006/main"}
    rows = root.findall(".//m:row", ns)
    assert len(rows) == 3  # header + 2 data rows
    header = [t.text for t in rows[0].findall(".//m:t", ns)]
    assert header == ["id", "label", "val", "flag"]
    texts = [t.text for t in rows[2].findall(".//m:t", ns)]
    assert "needs <escaping> & quotes" in texts  # escaped in XML, intact parsed
    vals = [v.text for v in rows[1].findall(".//m:v", ns)]
    assert "1" in vals and "1.5" in vals


def test_csv_cap_guard(spark, sf_smoke):
    from audience_finder_pro_spark.sources import sinks

    df = load_table(spark, sf_smoke, "lineitem")
    old = sinks.DRIVER_COLLECT_CAP
    sinks.DRIVER_COLLECT_CAP = 10
    try:
        with pytest.raises(ValueError, match="collect cap"):
            to_csv_bytes(df)
    finally:
        sinks.DRIVER_COLLECT_CAP = old


def test_ttl_cache(spark, sf_smoke):
    clock = {"t": 0.0}
    cache = TTLCache(ttl_seconds=100, clock=lambda: clock["t"])
    calls = {"n": 0}

    def compute():
        calls["n"] += 1
        return load_table(spark, sf_smoke, "region")

    a = cache.get_or_compute("k", compute)
    b = cache.get_or_compute("k", compute)
    assert calls["n"] == 1 and a is b
    clock["t"] = 200.0  # expired
    cache.get_or_compute("k", compute)
    assert calls["n"] == 2
    cache.invalidate()


def test_views_deterministic(spark, sf_smoke):
    """Reddit-shaped views: planted quirk rows exist (filters P4-P7 exercised)."""
    from audience_finder_pro_spark.plans.views import reddit_views

    v = reddit_views(spark, sf_smoke)
    subs = v["subreddits"]
    assert subs.filter(F.col("name").startswith("u_")).count() > 0
    assert subs.filter(F.col("over18")).count() > 0
    posts = v["posts"]
    assert posts.filter(F.col("author") == "[deleted]").count() > 0
    comments = v["comments"]
    assert comments.filter(F.col("body").isin("[deleted]", "[removed]")).count() > 0
    assert comments.filter(F.col("body") == "").count() > 0


def test_salted_agg_equals_plain_groupby(spark, sf_smoke):
    """Skew-salted two-phase aggregation == plain groupBy (SURVEY §4.3)."""
    from pyspark.sql import functions as F

    from audience_finder_pro_spark.operators.skew import salted_agg
    from audience_finder_pro_spark.session import load_table

    li = load_table(spark, sf_smoke, "lineitem")
    got = {
        r["l_returnflag"]: (round(r["s"], 2), r["n"], round(r["a"], 4), r["m"])
        for r in salted_agg(
            li,
            ["l_returnflag"],
            {"s": ("l_extendedprice", "sum"), "n": ("*", "count"),
             "a": ("l_quantity", "avg"), "m": ("l_discount", "max")},
            salt=8,
        ).select("l_returnflag", "s", "n", "a", "m").collect()
    }
    want = {
        r["l_returnflag"]: (round(r["s"], 2), r["n"], round(r["a"], 4), r["m"])
        for r in li.groupBy("l_returnflag")
        .agg(F.sum("l_extendedprice").alias("s"), F.count("*").alias("n"),
             F.avg("l_quantity").alias("a"), F.max("l_discount").alias("m"))
        .collect()
    }
    assert got == want


def test_salted_agg_rejects_holistic(spark, sf_smoke):
    import pytest as _pytest

    from audience_finder_pro_spark.operators.skew import salted_agg
    from audience_finder_pro_spark.session import load_table

    li = load_table(spark, sf_smoke, "lineitem")
    with _pytest.raises(ValueError):
        salted_agg(li, ["l_returnflag"], {"x": ("l_quantity", "median")})


def test_salted_join_equals_plain_join(spark, sf_smoke):
    """E60: the salted equi-join must be row-identical to the plain join
    for inner AND left (including unmatched left rows surviving exactly
    once), on a deliberately hot key distribution (every event key
    collapsed mod 3 — one synthetic mega-key per residue); right/full
    and salt<2 raise."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from audience_finder_pro_spark.operators.skew import salted_join
    from audience_finder_pro_spark.session import load_table

    ev = (
        load_table(spark, sf_smoke, "events")
        .select((F.col("user_id") % 3).alias("k"), "event_id", "value")
    )
    # dimension covers k=0,1 only -> k=2 rows are unmatched on left
    dim = spark.createDataFrame([(0, "seg_a"), (1, "seg_b")], "k long, seg string")
    for how in ("inner", "left"):
        a = sorted(
            tuple(r)
            for r in salted_join(ev, dim, on="k", salt=8, how=how)
            .select("k", "event_id", "seg")
            .collect()
        )
        b = sorted(
            tuple(r)
            for r in ev.join(dim, "k", how).select("k", "event_id", "seg").collect()
        )
        assert a == b, how
    with _pytest.raises(ValueError):
        salted_join(ev, dim, on="k", how="full")
    with _pytest.raises(ValueError):
        salted_join(ev, dim, on="k", salt=1)
    # r11 ADVICE: a pre-existing '__salt' column would be silently
    # overwritten and then dropped — both sides must refuse
    with _pytest.raises(ValueError, match="__salt"):
        salted_join(ev.withColumn("__salt", F.lit(0)), dim, on="k")
    with _pytest.raises(ValueError, match="__salt"):
        salted_join(ev, dim.withColumn("__salt", F.lit(0)), on="k")
    from audience_finder_pro_spark.operators.skew import salted_agg

    with _pytest.raises(ValueError, match="__salt"):
        salted_agg(
            ev.withColumn("__salt", F.lit(0)), ["k"], {"n": ("*", "count")}
        )


def test_partitioned_parquet_sink_prunes(spark, sf_smoke, tmp_path):
    """Partitioned sink round-trips and a partition filter prunes the scan."""
    from pyspark.sql import functions as F

    from audience_finder_pro_spark.session import load_table
    from audience_finder_pro_spark.sources.sinks import write_parquet_partitioned

    orders = load_table(spark, sf_smoke, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    out = str(tmp_path / "orders_by_year")
    write_parquet_partitioned(orders, out, ["o_year"])

    back = spark.read.parquet(out)
    assert back.count() == orders.count()
    one_year = back.filter(F.col("o_year") == 1995)
    plan = one_year._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "o_year" in plan.split("PartitionFilters", 1)[1][:200]
    assert one_year.count() == orders.filter(F.col("o_year") == 1995).count()


def test_bucketed_join_has_no_shuffle(spark, sf_smoke):
    """Co-bucketed fact tables sort-merge join without an Exchange."""
    from audience_finder_pro_spark.session import load_table
    from audience_finder_pro_spark.sources.sinks import write_bucketed_table

    orders = load_table(spark, sf_smoke, "orders")
    li = load_table(spark, sf_smoke, "lineitem")
    write_bucketed_table(orders.select("o_orderkey", "o_totalprice"), "b_orders", ["o_orderkey"], 8)
    write_bucketed_table(li.select("l_orderkey", "l_quantity"), "b_lineitem", ["l_orderkey"], 8)
    try:
        a = spark.table("b_orders")
        b = spark.table("b_lineitem")
        # disable broadcast so the join strategy is the bucketed SMJ path
        with_conf = spark.conf
        old = with_conf.get("spark.sql.autoBroadcastJoinThreshold")
        with_conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = a.join(b, a.o_orderkey == b.l_orderkey)
            n = joined.count()
            plan = joined._jdf.queryExecution().executedPlan().toString()
        finally:
            with_conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        assert n == li.join(orders, li.l_orderkey == orders.o_orderkey).count()
        assert "Exchange" not in plan, plan[:2000]
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_jsonl_quarantine(spark, tmp_path):
    """§4.1 per-row error quarantine: malformed JSON lines route to the bad
    side with raw text preserved; good rows parse clean."""
    from pyspark.sql import types as T

    from audience_finder_pro_spark.sources.quarantine import read_jsonl_quarantined

    p = tmp_path / "events.jsonl"
    p.write_text(
        '{"event_id": 1, "value": 1.5}\n'
        "this is not json\n"
        '{"event_id": 2, "value": 2.5}\n'
        '{"event_id": "boom{', # truncated record
    )
    schema = T.StructType(
        [T.StructField("event_id", T.LongType()), T.StructField("value", T.DoubleType())]
    )
    good, bad = read_jsonl_quarantined(spark, str(p), schema)
    assert sorted(r["event_id"] for r in good.collect()) == [1, 2]
    raws = [r["raw"] for r in bad.collect()]
    assert len(raws) == 2 and "this is not json" in raws[0] + raws[1]


def test_quarantine_invalid_split(spark, sf_smoke):
    from pyspark.sql import functions as F

    from audience_finder_pro_spark.plans.views import reddit_views
    from audience_finder_pro_spark.sources.quarantine import quarantine_invalid

    comments = reddit_views(spark, sf_smoke)["comments"]
    valid = (
        F.col("author").isNotNull()
        & (F.col("author") != "[deleted]")
        & ~F.col("body").isin("[deleted]", "[removed]")
    )
    good, bad = quarantine_invalid(comments, valid, ["comment_id", "body", "author"])
    assert good.count() + bad.count() == comments.count()
    assert bad.filter(F.col("author") == "[deleted]").count() > 0


def test_approx_count_distinct_tolerance(spark, sf_smoke):
    """A7: approx_count_distinct declared tolerance-checked, not hash-checked
    (SURVEY §2.4) — rsd is a 1-sigma bound, so assert within 3*rsd of exact."""
    from pyspark.sql import functions as F

    from audience_finder_pro_spark.session import load_table

    li = load_table(spark, sf_smoke, "lineitem")
    row = li.agg(
        F.approx_count_distinct("l_orderkey", rsd=0.05).alias("approx"),
        F.countDistinct("l_orderkey").alias("exact"),
    ).first()
    assert abs(row["approx"] - row["exact"]) / row["exact"] <= 3 * 0.05


def test_python_udtf_parse_lines(spark):
    """D3: Spark 4 Python UDTF — table function from SQL and DataFrame API."""
    from audience_finder_pro_spark.functions.udtf import ParseLines, register_udtfs

    register_udtfs(spark)
    rows = spark.sql(
        "SELECT * FROM parse_lines('  spark \n\n vector \n  ')"
    ).collect()
    assert [(r["pos"], r["line"]) for r in rows] == [(0, "spark"), (1, "vector")]
    # lateral join form over a table
    df = spark.createDataFrame([(1, "a\n b\n"), (2, None)], "id int, txt string")
    df.createOrReplaceTempView("udtf_in")
    out = spark.sql(
        "SELECT id, pos, line FROM udtf_in, LATERAL parse_lines(txt)"
    ).collect()
    assert [(r["id"], r["pos"], r["line"]) for r in out] == [(1, 0, "a"), (1, 1, "b")]


def test_asof_join_forward(spark):
    """Forward as-of: earliest right row with ts >= left ts, ties included."""
    from audience_finder_pro_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 16, "b"), (2, 50, "c")], "user_id long, t long, tag string"
    ).withColumn("ts", F.timestamp_seconds("t"))
    right = spark.createDataFrame(
        [(1, 10, 100.0), (1, 15, 150.0), (1, 20, 200.0)], "user_id long, t long, val double"
    ).withColumn("ts", F.timestamp_seconds("t")).select("user_id", "ts", "val")
    out = asof_join(
        left.select("user_id", "ts", "tag"), right, ["user_id"], "ts", "ts", ["val"],
        direction="forward",
    )
    got = {r.tag: r.val for r in out.collect()}
    # a: ts=10 matches right ts=10 (tie inclusive); b: ts=16 -> next is 20; c: none
    assert got == {"a": 100.0, "b": 200.0, "c": None}


def test_time_filter_window_semantics(spark, sf_smoke):
    """time_filter narrows monotonically (day ⊆ week ⊆ month ⊆ all over the
    post set feeding top-k) and rejects unknown values."""
    from audience_finder_pro_spark.plans.audience import scan_signals

    counts = {}
    for tf in ("day", "month", "all"):
        counts[tf] = scan_signals(
            spark, sf_smoke, subreddits=["src1", "src2"], keywords=["the"], time_filter=tf
        ).count()
    assert counts["day"] <= counts["month"] <= counts["all"]
    with pytest.raises(ValueError, match="time_filter"):
        scan_signals(
            spark, sf_smoke, subreddits=["src1"], keywords=["the"], time_filter="fortnight"
        ).count()


def test_ngram_jaccard_df_cap_prunes_hot_shingles(spark):
    """df_cap drops ubiquitous shingles: a boilerplate phrase shared by all
    docs stops creating pairs, while genuine near-dups still match."""
    from audience_finder_pro_spark.operators.dedup import ngram_jaccard_pairs

    boiler = "all rights reserved by the example corp"
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta gamma delta epsilon {boiler}"),
            (2, f"alpha beta gamma delta epsilon {boiler}"),  # true near-dup of 1
            (3, f"one two three four five six {boiler}"),
            (4, f"seven eight nine ten eleven twelve {boiler}"),
        ],
        "doc_id long, text string",
    )
    # uncapped: boilerplate shingles connect everything at low jaccard
    uncapped = ngram_jaccard_pairs(docs, threshold=0.05).count()
    capped = ngram_jaccard_pairs(docs, threshold=0.05, df_cap=2).count()
    assert uncapped == 6  # all pairs share the boilerplate
    assert capped == 1  # only the true near-dup pair (1,2) survives
    pair = ngram_jaccard_pairs(docs, threshold=0.05, df_cap=2).first()
    assert (pair["id_a"], pair["id_b"]) == (1, 2)


def test_percentile_approx_tolerance(spark, sf_smoke):
    """A7: percentile_approx declared tolerance-checked — with accuracy=1000
    the estimate must land within 1% of the exact percentile's rank range."""
    from pyspark.sql import functions as F

    from audience_finder_pro_spark.session import load_table

    li = load_table(spark, sf_smoke, "lineitem")
    row = li.agg(
        F.percentile_approx("l_extendedprice", 0.5, 1000).alias("approx"),
        F.percentile("l_extendedprice", F.lit(0.5)).alias("exact"),
    ).first()
    assert abs(row["approx"] - row["exact"]) / row["exact"] <= 0.01


# ---------------------------------------------------------------- graph / CC
def test_connected_components_chain(spark):
    """A 10-node path graph: min-label must cross the whole chain (forces
    multiple propagation+pointer-jumping iterations, not just one hop)."""
    from audience_finder_pro_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "id_a long, id_b long"
    )
    # force the distributed loop — the chain is the multi-iteration case
    out = {
        r.node: r.comp
        for r in connected_components(edges, driver_max_edges=0).collect()
    }
    assert out == {i: 0 for i in range(10)}
    # the driver union-find fast path (default at this size) must agree
    out_uf = {r.node: r.comp for r in connected_components(edges).collect()}
    assert out_uf == out


def test_connected_components_multiple_components(spark):
    """Two components + edge direction/duplicate invariance."""
    from audience_finder_pro_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(5, 3), (3, 5), (3, 4), (10, 11), (11, 10)], "id_a long, id_b long"
    )
    out = {r.node: r.comp for r in connected_components(edges).collect()}
    assert out == {3: 3, 4: 3, 5: 3, 10: 10, 11: 10}


def test_connected_components_null_edges_dropped(spark):
    """Null-endpoint edges carry no information and must be dropped by BOTH
    physical paths (pre-fix, the driver path's toPandas coerced
    int64-with-nulls to float64 and failed the non-nullable output schema,
    while the distributed path silently propagated the null)."""
    from audience_finder_pro_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (None, 3), (4, None), (None, None), (2, 5)],
        "id_a long, id_b long",
    )
    # 3 and 4 appear only in dropped (null-endpoint) edges, so they are
    # absent from the node set — callers re-attach isolated ids via
    # dedup_clusters' left join, same as for any edge-less node
    expect = {1: 1, 2: 1, 5: 1}
    got = {r.node: r.comp for r in connected_components(edges).collect()}
    assert got == expect
    got_iter = {
        r.node: r.comp
        for r in connected_components(edges, driver_max_edges=0).collect()
    }
    assert got_iter == expect


def test_dedup_clusters_singletons_and_representative(spark):
    """Full-corpus labeling: untouched docs are their own cluster; keeping
    doc_id == cluster_id keeps exactly one representative per component."""
    from audience_finder_pro_spark.operators.graph import dedup_clusters

    docs = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    pairs = spark.createDataFrame([(1, 2), (2, 4)], "id_a long, id_b long")
    out = {r.doc_id: r.cluster_id for r in dedup_clusters(docs, pairs).collect()}
    assert out == {0: 0, 1: 1, 2: 1, 3: 3, 4: 1, 5: 5}
    reps = sorted(d for d, c in out.items() if d == c)
    assert reps == [0, 1, 3, 5]


def test_pii_redact_roundtrip(spark):
    """Detection counts and redaction must agree: after redact_pii the
    detectors find nothing, and non-PII text is byte-identical."""
    from audience_finder_pro_spark.functions.quality import (
        EMAIL_RE,
        PHONE_RE,
        pii_count,
        redact_pii,
    )

    df = spark.createDataFrame(
        [
            ("reach me at jo.doe+x@mail.example.org or 555-0199 today",),
            ("no contact info here",),
        ],
        "text string",
    )
    out = df.select(
        pii_count("text", EMAIL_RE).alias("e"),
        pii_count("text", PHONE_RE).alias("p"),
        redact_pii("text").alias("red"),
        pii_count(redact_pii("text"), EMAIL_RE).alias("e2"),
        pii_count(redact_pii("text"), PHONE_RE).alias("p2"),
    ).collect()
    assert (out[0].e, out[0].p, out[0].e2, out[0].p2) == (1, 1, 0, 0)
    assert out[0].red == "reach me at [EMAIL] or [PHONE] today"
    assert (out[1].e, out[1].p) == (0, 0)
    assert out[1].red == "no contact info here"


# ---------------------------------------------------------------- sampling
def test_hash_split_deterministic_and_proportional(spark):
    """Same rows -> same split on re-run; fractions near targets; unknown
    fraction sums rejected."""
    from audience_finder_pro_spark.operators.sampling import hash_split

    df = spark.range(20_000).withColumnRenamed("id", "doc_id")
    a = {r.doc_id: r.split for r in hash_split(df).collect()}
    b = {r.doc_id: r.split for r in hash_split(df).collect()}
    assert a == b
    from collections import Counter

    frac = Counter(a.values())
    assert abs(frac["train"] / 20_000 - 0.90) < 0.01
    assert abs(frac["val"] / 20_000 - 0.05) < 0.005
    assert abs(frac["test"] / 20_000 - 0.05) < 0.005
    with pytest.raises(ValueError, match="sum to 1"):
        hash_split(df, splits={"train": 0.5, "val": 0.1})


def test_hash_split_rounded_boundaries_leave_no_gap(spark):
    """{1/3,1/3,1/3} passes the sum check but its rounded cumulative
    boundary lands at 9999 — the last split must be the otherwise() arm
    so bucket 9999 can't fall through to a NULL split (ADVICE r2)."""
    from audience_finder_pro_spark.operators.sampling import hash_split

    df = spark.range(30_000).withColumnRenamed("id", "doc_id")
    out = hash_split(df, splits={"a": 1 / 3, "b": 1 / 3, "c": 1 / 3})
    assert out.filter(F.col("split").isNull()).count() == 0
    from collections import Counter

    frac = Counter(r.split for r in out.collect())
    for name in ("a", "b", "c"):
        assert abs(frac[name] / 30_000 - 1 / 3) < 0.01


def test_mixture_sample_rate_and_independence(spark):
    """Sample rate lands near the weight, and sampling is independent of
    split assignment (a sampled subset keeps the split proportions)."""
    from audience_finder_pro_spark.operators.sampling import hash_split, mixture_sample

    df = hash_split(spark.range(20_000).withColumnRenamed("id", "doc_id"))
    out = mixture_sample(df, F.lit(0.3)).collect()
    kept = [r for r in out if r.sampled]
    assert abs(len(kept) / 20_000 - 0.3) < 0.01
    train_frac_all = sum(r.split == "train" for r in out) / len(out)
    train_frac_kept = sum(r.split == "train" for r in kept) / len(kept)
    assert abs(train_frac_all - train_frac_kept) < 0.02


def test_pack_sequences_running_sum_invariants(spark):
    """Running-sum packing: every doc assigned, bins contiguous from 0,
    bin_pos dense, each bin under budget once its boundary-crossing last
    doc is removed, and the assignment is identical under a different
    cluster partitioning (the determinism the greedy form can't give)."""
    from audience_finder_pro_spark.operators.packing import pack_sequences

    budget = 100
    rows = [(i, 7 + (i * 37) % 60) for i in range(200)]  # doc_id, n_tokens
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    out = pack_sequences(df, budget=budget).collect()
    assert len(out) == 200
    by_bin: dict[int, list] = {}
    for r in sorted(out, key=lambda r: (r.bin_id, r.bin_pos)):
        by_bin.setdefault(r.bin_id, []).append(r)
    assert sorted(by_bin) == list(range(len(by_bin)))  # contiguous bins
    for rs in by_bin.values():
        assert [r.bin_pos for r in rs] == list(range(len(rs)))  # dense pos
        total = sum(r.n_tokens for r in rs)
        assert total - rs[-1].n_tokens < budget  # only the last doc crosses
    # partitioning-independence
    out2 = pack_sequences(df.repartition(7), budget=budget).collect()
    assert {(r.doc_id, r.bin_id, r.bin_pos) for r in out2} == {
        (r.doc_id, r.bin_id, r.bin_pos) for r in out
    }
    # scoped packing: bins restart per source
    df_src = df.withColumn("source", (F.col("doc_id") % 3).cast("string"))
    scoped = pack_sequences(df_src, budget=budget, partition_by="source").collect()
    for src in ("0", "1", "2"):
        assert min(r.bin_id for r in scoped if r.source == src) == 0


def test_pack_sequences_tight_hard_cap(spark):
    """Greedy first-fit: no bin exceeds the budget unless it holds a
    single over-budget doc; every doc assigned exactly once."""
    from audience_finder_pro_spark.operators.packing import pack_sequences_tight

    budget = 100
    rows = [(i, t) for i, t in enumerate([30, 80, 40, 25, 150, 10, 95, 60, 5, 99])]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long").repartition(2)
    out = pack_sequences_tight(df, budget=budget).collect()
    assert len(out) == 10 and len({r.doc_id for r in out}) == 10
    by_bin: dict[int, list] = {}
    for r in out:
        by_bin.setdefault(r.bin_id, []).append(r)
    for rs in by_bin.values():
        total = sum(r.n_tokens for r in rs)
        assert total <= budget or (len(rs) == 1 and rs[0].n_tokens > budget)


def test_decontamination_exact_and_ngram(spark):
    """Planted contamination: a verbatim benchmark copy is caught by the
    exact pass; a reformatted copy (prefix added, whitespace mangled —
    different hash, shared 13-gram runs) only by the n-gram pass; clean
    docs survive both. Short docs (< n tokens) are never flagged."""
    from audience_finder_pro_spark.operators.decontaminate import (
        exact_decontaminate,
        ngram_contamination,
        ngram_decontaminate,
    )

    bench_text = " ".join(f"benchword{i}" for i in range(30))
    train_rows = [
        (1, bench_text),  # verbatim copy
        (2, "  " + bench_text.upper() + "  extra tail"),  # reformatted copy
        (3, " ".join(f"cleanword{i}" for i in range(30))),  # clean
        (4, "too short"),  # < n tokens, unflaggable
    ]
    train = spark.createDataFrame(train_rows, "doc_id long, text string")
    bench = spark.createDataFrame([(bench_text,)], "text string")

    exact = exact_decontaminate(train, bench)
    assert {r.doc_id for r in exact.collect()} == {2, 3, 4}  # upper() changes hash

    flagged = {r.doc_id for r in ngram_contamination(train, bench, n=13).collect()}
    assert flagged == {1, 2}  # tokenizer lowercases, so the reformat is caught

    kept = {r.doc_id for r in ngram_decontaminate(train, bench, n=13).collect()}
    assert kept == {3, 4}


def test_decontamination_multi_doc_benchmark(spark):
    """A MULTI-row benchmark must shingle each doc independently —
    regression for the shared-literal-id bug where every benchmark row
    joined one window partition, shingles crossed document boundaries
    (pos ties across rows), and a multi-doc benchmark caught nothing."""
    from audience_finder_pro_spark.operators.decontaminate import ngram_contamination

    b1 = " ".join(f"alpha{i}" for i in range(20))
    b2 = " ".join(f"beta{i}" for i in range(20))
    train = spark.createDataFrame(
        [(1, b1), (2, b2), (3, " ".join(f"clean{i}" for i in range(20)))],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(b1,), (b2,)], "text string").repartition(2)
    flagged = {r.doc_id for r in ngram_contamination(train, bench, n=13).collect()}
    assert flagged == {1, 2}


def test_langid_profiles_discriminate(spark):
    """The char-trigram classifier must pick the right language on a
    clearly-in-language snippet for every profiled language (the parquet
    fixture can't test this — its text is English-ish for all labels)."""
    from audience_finder_pro_spark.functions.langid import LANG_TRIGRAMS, trigram_hits_sql

    samples = {
        "de": "der hund und die katze gehen durch einen schoenen wald und singen",
        "en": "the quick brown fox jumps over the lazy dog and runs along the road",
        "es": "los amigos que viven en la casa de los abuelos han llegado querido",
        "fr": "les enfants de la ville vont une fois vers une grande maison verte",
    }
    df = spark.createDataFrame(
        [(i, lang, s) for i, (lang, s) in enumerate(samples.items())],
        "doc_id long, lang string, text string",
    )
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        df.write.parquet(f"{td}/documents.parquet")
        from audience_finder_pro_spark.queries.llm import lang_id

        got = {r.labeled_lang: r.predicted_lang for r in lang_id(spark, td).collect()}
    assert got == {lang: lang for lang in samples}
    # the oracle generator embeds every profiled language
    sql = trigram_hits_sql("n")
    for lang in LANG_TRIGRAMS:
        assert f"{lang}_hits" in sql


def test_asof_join_nearest(spark):
    """direction='nearest' picks the time-closest right row either side,
    ties resolve backward (pandas merge_asof convention)."""
    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 14, "b"), (1, 15, "c"), (2, 7, "d")],
        "k long, t long, tag string",
    ).withColumn("ts", F.timestamp_seconds("t"))
    right = spark.createDataFrame(
        [(1, 8, 80.0), (1, 20, 200.0), (3, 1, 999.0)],
        "k long, t long, v double",
    ).withColumn("ts", F.timestamp_seconds("t")).select("k", "ts", "v")
    out = asof_join(
        left.select("k", "ts", "tag"), right, ["k"], "ts", "ts", ["v"],
        direction="nearest",
    )
    got = {r.tag: r.v for r in out.collect()}
    # a(10): |10-8|=2 < |20-10|=10 -> 80 ; b(14): 6 == 6 tie -> backward 80
    # c(15): 7 > 5 -> 200 ; d(k=2): no right rows -> null
    assert got == {"a": 80.0, "b": 80.0, "c": 200.0, "d": None}


def test_excel_sink_nonfinite_floats(spark):
    """inf/-inf are not valid OOXML numeric cell values — they must land
    as empty cells, like NaN/null."""
    import io
    import xml.etree.ElementTree as ET
    import zipfile

    from audience_finder_pro_spark.sources.sinks import _xlsx_bytes_minimal
    import pandas as pd

    pdf = pd.DataFrame({"x": [1.5, float("inf"), float("-inf"), float("nan")]})
    with zipfile.ZipFile(io.BytesIO(_xlsx_bytes_minimal(pdf))) as z:
        root = ET.fromstring(z.read("xl/worksheets/sheet1.xml"))
    ns = {"m": "http://schemas.openxmlformats.org/spreadsheetml/2006/main"}
    vals = [v.text for v in root.findall(".//m:v", ns)]
    assert vals == ["1.5"]  # only the finite value serializes


def test_load_table_fan_out_gate(spark):
    """fan_out must repartition single-split scans to session parallelism
    and be memoized separately from the plain scan; the plain scan stays
    un-repartitioned (cheap queries opt out of the exchange)."""
    from audience_finder_pro_spark.session import load_table

    sf = "/root/testdata/sf0.001"
    plain = load_table(spark, sf, "documents")
    fanned = load_table(spark, sf, "documents", fan_out=True)
    par = spark.sparkContext.defaultParallelism
    assert plain.rdd.getNumPartitions() < par
    assert fanned.rdd.getNumPartitions() == par
    # memoized: same object back on repeat calls, per variant
    assert load_table(spark, sf, "documents") is plain
    assert load_table(spark, sf, "documents", fan_out=True) is fanned
    assert fanned.count() == plain.count()


def test_jsonl_sink_roundtrip(spark, sf_smoke, tmp_path):
    """S5-family: JSONL export (the LLM training-corpus interchange format)
    round-trips through the quarantined JSONL source with identical rows,
    gzip-compressed, and honors the file-size bound."""
    from audience_finder_pro_spark.session import load_table
    from audience_finder_pro_spark.sources.quarantine import read_jsonl_quarantined
    from audience_finder_pro_spark.sources.sinks import write_jsonl

    docs = load_table(spark, sf_smoke, "documents").select("doc_id", "text", "source")
    out = str(tmp_path / "corpus_jsonl")
    write_jsonl(docs, out, max_records_per_file=100)

    import glob

    files = glob.glob(f"{out}/*.json.gz")
    assert files, "expected gzip-compressed part files"

    good, bad = read_jsonl_quarantined(spark, out, docs.schema)
    assert bad.count() == 0
    assert sorted(map(tuple, good.select("doc_id", "text", "source").collect())) == sorted(
        map(tuple, docs.collect())
    )


def test_compact_parquet_reduces_files_and_preserves_rows(spark, tmp_path):
    """Compaction rewrites a many-small-files directory into the computed
    target count with identical content; shuffle=False stays a narrow
    coalesce (no exchange in the write plan)."""
    from audience_finder_pro_spark.session import load_table
    from audience_finder_pro_spark.sources.sinks import compact_parquet

    src = str(tmp_path / "shattered")
    dst = str(tmp_path / "compacted")
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    docs.repartition(37).write.parquet(src)
    import glob

    n_in = len(glob.glob(f"{src}/*.parquet"))
    assert n_in >= 30
    n_out = compact_parquet(spark, src, dst, target_mb=256)
    assert n_out == 1  # tiny fixture << 256 MB
    assert len(glob.glob(f"{dst}/*.parquet")) == 1
    a = sorted(r.doc_id for r in spark.read.parquet(dst).collect())
    b = sorted(r.doc_id for r in docs.collect())
    assert a == b
    # narrow path: no Exchange in the compaction read+coalesce plan
    plan = (
        spark.read.parquet(src)
        .coalesce(1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


# ---------------------------------------------------------------- strip_markup
def test_strip_markup_semantics(spark):
    from audience_finder_pro_spark.functions.text import strip_markup

    rows = [
        (1, "<html><head><style>p{color:red}</style><script>var x=1;</script></head>"
            "<body><p>Hello &amp; <b>world</b>!</p><!-- gone --></body></html>"),
        (2, "plain text, no markup at all"),
        (3, "a &lt;tag&gt; that was escaped, &quot;quoted&quot;, caf&#233;"),
        (4, "double-escaped: &amp;lt;b&amp;gt; stays literal"),
        (5, "<SCRIPT TYPE='x'>alert(1)</SCRIPT>upper case tags<BR/>too"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    out = {r.id: r.t for r in df.select("id", strip_markup("text").alias("t")).collect()}
    assert out[1] == "Hello & world !"
    assert out[2] == "plain text, no markup at all"
    assert out[3] == 'a <tag> that was escaped, "quoted", caf'
    assert out[4] == "double-escaped: &lt;b&gt; stays literal"
    assert out[5] == "upper case tags too"


def test_strip_markup_duckdb_parity(spark):
    """Every step is RE2-compatible by construction — DuckDB replays the
    exact pipeline and must produce identical strings."""
    import duckdb

    from audience_finder_pro_spark.functions.text import strip_markup

    rows = [
        ("<div class='x'>nested <span>tags</span> here</div>",),
        ("<style>s</style>keep<script a=b>drop()</script>",),
        ("&amp;amp; &#x27;hex&#39;dec &nbsp;spaced",),
        ("no markup",),
        ("<p>multi\nline<br>text</p>",),
    ]
    df = spark.createDataFrame(rows, "text string")
    got = [r.t for r in df.select(strip_markup("text").alias("t")).collect()]
    con = duckdb.connect()
    con.execute("CREATE TABLE t (text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", rows)
    sql = """
    SELECT trim(regexp_replace(
             replace(replace(replace(replace(replace(replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(text, '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
                     '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
                   '(?s)<!--.*?-->', ' ', 'g'),
                 '<[^>]+>', ' ', 'g'),
               '&#[0-9]+;|&#x[0-9a-fA-F]+;', ' ', 'g'),
             '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&apos;', ''''), '&nbsp;', ' '), '&amp;', '&'),
           '\\s+', ' ', 'g')) AS t
    FROM t
    """
    want = [r[0] for r in con.execute(sql).fetchall()]
    assert got == want


# ---------------------------------------------------------------- E31 pagerank
def _pagerank_ref(edges, n_iter=10, d=0.85, dangling=True):
    """Pure-python reference of the exact operator recurrence."""
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    deg = {}
    for u, _ in edges:
        deg[u] = deg.get(u, 0) + 1
    r = {v: 1.0 for v in nodes}
    n = len(nodes)
    for _ in range(n_iter):
        c = {v: 0.0 for v in nodes}
        for u, v in edges:
            c[v] += r[u] / deg[u]
        dang = sum(r[v] for v in nodes if v not in deg) if dangling else 0.0
        r = {v: (1 - d) + d * (c[v] + dang / n) for v in nodes}
    return {v: round(x, 4) for v, x in r.items()}


def test_pagerank_matches_reference_star_and_chain(spark):
    from audience_finder_pro_spark.operators.graph import pagerank

    # star (hub 0 pointed at by 1..6, hub points back at 1) + a chain with a sink
    edges = [(i, 0) for i in range(1, 7)] + [(0, 1), (10, 11), (11, 12)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.pagerank for r in pagerank(df).collect()}
    assert got == _pagerank_ref(edges)
    # the hub and its sole out-neighbor (which receives ALL the hub's
    # mass) are the two most central nodes
    top2 = sorted(got, key=got.get, reverse=True)[:2]
    assert set(top2) == {0, 1}
    assert min(got.values()) >= 0.15 - 1e-9


def test_pagerank_dangling_mass_and_determinism(spark):
    from audience_finder_pro_spark.operators.graph import pagerank

    edges = [(0, 1), (1, 2), (2, 3), (3, 4)]  # node 4 is a sink
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.pagerank for r in pagerank(df).collect()}
    assert got == _pagerank_ref(edges)
    # mean-1 form with dangling redistribution conserves total mass = n
    assert abs(sum(got.values()) - 5.0) < 1e-3
    again = {r.node: r.pagerank for r in pagerank(df.repartition(7)).collect()}
    assert got == again
    # without dangling handling the sink's mass leaks — totals differ
    leaky = {r.node: r.pagerank for r in pagerank(df, handle_dangling=False).collect()}
    assert sum(leaky.values()) < sum(got.values())
    assert leaky == _pagerank_ref(edges, dangling=False)


def test_pagerank_empty_edges(spark):
    from audience_finder_pro_spark.operators.graph import pagerank

    df = spark.createDataFrame([], "src long, dst long")
    assert pagerank(df).count() == 0


def test_similarity_pagerank_matches_sql_oracle(spark, sf_dir):
    """Registered oracle-less (driver slots fully funded) — this
    differential IS its hash gate, same compare as the driver's."""
    from audience_finder_pro_spark.queries import QUERIES
    from audience_finder_pro_spark.queries.llm import _PAGERANK_ORACLE
    from tests.oracle import compare

    compare(
        QUERIES["similarity_pagerank"](spark, sf_dir),
        _PAGERANK_ORACLE,
        sf_dir,
        name="similarity_pagerank",
    )


# ---------------------------------------------------------------- E33 validation
def test_validate_corpus_matches_sql_oracle(spark, sf_dir):
    """The demoted merge-#26 constituent keeps its standalone hash gate
    (the suite now rides the audit carrier as its 'validate' leg)."""
    from audience_finder_pro_spark.queries import QUERIES
    from audience_finder_pro_spark.queries.llm import _VALIDATE_ORACLE
    from tests.oracle import compare

    compare(
        QUERIES["validate_plain"](spark, sf_dir), _VALIDATE_ORACLE, sf_dir,
        name="validate_plain",
    )


def test_audit_carrier_matches_sql_oracle(spark, sf_dir):
    """The merge-#26 tagged audit carrier (validate + privacy legs)
    hash-matches the UNION ALL of both constituent oracles — this is
    the driver row's exact compare."""
    from audience_finder_pro_spark.queries import ORACLES, QUERIES
    from tests.oracle import compare

    compare(
        QUERIES["validate_corpus"](spark, sf_dir), ORACLES["validate_corpus"],
        sf_dir, name="validate_corpus",
    )


def test_validate_table_counts_planted_violations(spark):
    """One planted violation per rule kind on a crafted table; the report
    must count each exactly and pass clean rules."""
    from audience_finder_pro_spark.operators.validate import validate_table

    rows = [
        (1, 10, "A", 5.0, "ok"),
        (2, 10, "B", -1.0, "ok"),       # range violation
        (2, 11, "Z", 5.0, "ok"),        # duplicate id
        (None, 12, "A", 5.0, "ok"),     # null id
        (5, 99, "A", 5.0, "bad value"), # fk violation (99) + regex violation
    ]
    df = spark.createDataFrame(rows, "id long, fk long, cat string, x double, s string")
    ref = spark.createDataFrame([(10,), (11,), (12,)], "k long")
    rules = [
        ("id_not_null", "not_null", {"col": "id"}),
        ("id_unique", "unique", {"cols": ["id"]}),
        ("x_range", "in_range", {"col": "x", "lo": 0, "hi": 100}),
        ("cat_vals", "accepted_values", {"col": "cat", "values": ["A", "B"]}),
        ("s_shape", "matches_regex", {"col": "s", "pattern": "^ok$"}),
        ("fk_ok", "ref_integrity", {"col": "fk", "ref": ref, "ref_col": "k"}),
    ]
    out = {r.rule: r for r in validate_table(df, rules).collect()}
    assert len(out) == 6 and all(r.n_rows == 5 for r in out.values())
    assert out["id_not_null"].n_violations == 1 and not out["id_not_null"].passed
    # ids (1,2,2,None,5): distinct ignores NULL in both engines, so the
    # NULL key counts as a violation too (can't be proven unique) → 5-3
    assert out["id_unique"].n_violations == 2
    assert out["x_range"].n_violations == 1
    assert out["cat_vals"].n_violations == 1       # 'Z'
    assert out["s_shape"].n_violations == 1        # 'bad value'
    assert out["fk_ok"].n_violations == 1          # fk=99
    clean = validate_table(df.filter("id = 1"), rules).collect()
    assert all(r.passed for r in clean)


# ---------------------------------------------------------------- E34 snapshot diff
def test_snapshot_diff_matches_sql_oracle(spark, sf_dir):
    from audience_finder_pro_spark.queries import QUERIES
    from audience_finder_pro_spark.queries.llm import _SNAPSHOT_DIFF_ORACLE
    from tests.oracle import compare

    compare(
        QUERIES["snapshot_diff"](spark, sf_dir), _SNAPSHOT_DIFF_ORACLE, sf_dir,
        name="snapshot_diff",
    )


def test_snapshot_diff_statuses(spark):
    from audience_finder_pro_spark.operators.profile import snapshot_diff

    old = spark.createDataFrame(
        [(1, "keep me"), (2, "will change"), (3, "will vanish"), (4, "ws   only")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, "keep me"), (2, "changed now"), (4, "ws only"), (9, "brand new")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.status for r in snapshot_diff(old, new).collect()}
    # whitespace-only churn (doc 4) must read as unchanged (normalized hash)
    assert got == {1: "unchanged", 2: "changed", 3: "removed", 4: "unchanged", 9: "added"}


# ------------------------------------------------------- merge-#16 constituents
def test_revenue_constituents_match_sql_oracles(spark, sf_dir):
    """The q02 carrier frame (merge #16) is driver-checked; the demoted
    'df' and 'sql' constituents keep their own standalone hash gates."""
    from audience_finder_pro_spark.queries import QUERIES
    from audience_finder_pro_spark.queries.relational import (
        _REVENUE_DF_ORACLE,
        _SQL_INTERFACE_ORACLE,
    )
    from tests.oracle import compare

    compare(QUERIES["q02_revenue_df"](spark, sf_dir), _REVENUE_DF_ORACLE, sf_dir,
            name="q02_revenue_df")
    compare(QUERIES["q29_sql_interface"](spark, sf_dir), _SQL_INTERFACE_ORACLE, sf_dir,
            name="q29_sql_interface")


# ------------------------------------------------------- F16 merged constituents
def test_semistructured_constituents_match_sql_oracles(spark, sf_dir):
    """The q24 carrier frame (merge #15) is driver-checked; the demoted
    constituents keep their own standalone hash gates here."""
    from audience_finder_pro_spark.queries import QUERIES
    from audience_finder_pro_spark.queries.relational import (
        _JSON_FUNCS_ORACLE,
        _MAP_FUNCS_ORACLE,
    )
    from tests.oracle import compare

    compare(QUERIES["q24_json_agg"](spark, sf_dir), _JSON_FUNCS_ORACLE, sf_dir,
            name="q24_json_agg")
    compare(QUERIES["q28_map_funcs"](spark, sf_dir), _MAP_FUNCS_ORACLE, sf_dir,
            name="q28_map_funcs")


# ------------------------------------------------- merge-#17 constituents
def test_q01_constituents_match_sql_oracles(spark, sf_dir):
    """The q01 carrier covers its constituents transitively (it calls
    them), but each also keeps a standalone gate against its
    module-constant oracle so a carrier refactor can never silently
    orphan them. (An r9 fused-single-scan carrier rewrite was measured
    and REJECTED here: exact decimal money products force BigDecimal-
    backed precision >18 — ~0.7s per scan at sf0.1, 3x the stage floor
    it saved — and double sums under salting are the documented
    drift-past-round(4) hash class. See NOTES r9.)"""
    from audience_finder_pro_spark.queries import QUERIES
    from audience_finder_pro_spark.queries.relational import (
        _PRICING_PLAIN_ORACLE,
        _SALTED_AGG_ORACLE,
    )
    from tests.oracle import compare

    compare(QUERIES["q01_pricing_plain"](spark, sf_dir), _PRICING_PLAIN_ORACLE, sf_dir,
            name="q01_pricing_plain")
    compare(QUERIES["q27_salted_agg"](spark, sf_dir), _SALTED_AGG_ORACLE, sf_dir,
            name="q27_salted_agg")


# ------------------------------------------------- merge-#18/#19 constituents
def test_topk_cross_constituents_match_sql_oracles(spark, sf_dir):
    """The q03 carrier frame (merge #18) is driver-checked; the demoted
    top-k and cartesian constituents keep their own standalone hash gates."""
    from audience_finder_pro_spark.queries import QUERIES
    from audience_finder_pro_spark.queries.relational import (
        _CROSS_JOIN_ORACLE,
        _TOP_ORDERS_ORACLE,
    )
    from tests.oracle import compare

    compare(QUERIES["q03_top_orders_plain"](spark, sf_dir), _TOP_ORDERS_ORACLE, sf_dir,
            name="q03_top_orders_plain")
    compare(QUERIES["q06_cross_join"](spark, sf_dir), _CROSS_JOIN_ORACLE, sf_dir,
            name="q06_cross_join")


def test_semi_anti_constituent_matches_sql_oracle(spark, sf_dir):
    """Demoted into the q16 set-op carrier (merge #20); standalone gate."""
    from audience_finder_pro_spark.queries import QUERIES
    from audience_finder_pro_spark.queries.relational import _SEMI_ANTI_ORACLE
    from tests.oracle import compare

    compare(QUERIES["q04_semi_anti_join"](spark, sf_dir), _SEMI_ANTI_ORACLE, sf_dir,
            name="q04_semi_anti_join")


def test_distinct_stats_constituent_matches_sql_oracle(spark, sf_dir):
    """Demoted into the q20 scalar-function carrier (merge #22); standalone gate."""
    from audience_finder_pro_spark.queries import QUERIES
    from audience_finder_pro_spark.queries.relational import _DISTINCT_STATS_ORACLE
    from tests.oracle import compare

    compare(QUERIES["q19_distinct_stats"](spark, sf_dir), _DISTINCT_STATS_ORACLE, sf_dir,
            name="q19_distinct_stats")


def test_sessionize_constituent_matches_sql_oracle(spark, sf_dir):
    """Demoted into the q10 window carrier (merge #21); standalone gate."""
    from audience_finder_pro_spark.queries import QUERIES
    from audience_finder_pro_spark.queries.relational import _SESSIONIZE_ORACLE
    from tests.oracle import compare

    compare(QUERIES["q12_sessionize"](spark, sf_dir), _SESSIONIZE_ORACLE, sf_dir,
            name="q12_sessionize")


def test_signal_v1_export_constituent_matches_sql_oracle(spark, sf_dir):
    """Demoted into the signal_scan wide-merge carrier (merge #23, r9 —
    the v1 expressions ride as v1_text/status/priority/notes); the export
    shape keeps its standalone hash gate."""
    from audience_finder_pro_spark.queries import QUERIES
    from audience_finder_pro_spark.queries.golden import _SIGNAL_V1_ORACLE
    from tests.oracle import compare

    compare(QUERIES["signal_scan_v1_export"](spark, sf_dir), _SIGNAL_V1_ORACLE, sf_dir,
            name="signal_scan_v1_export")


def test_keyword_doc_freq_matches_sql_oracle(spark, sf_dir):
    """Demoted into the quarantine_report carrier (merge #19); standalone gate."""
    from audience_finder_pro_spark.queries import QUERIES
    from audience_finder_pro_spark.queries.golden import _KEYWORD_DOC_FREQ_ORACLE
    from tests.oracle import compare

    compare(QUERIES["keyword_doc_freq"](spark, sf_dir), _KEYWORD_DOC_FREQ_ORACLE, sf_dir,
            name="keyword_doc_freq")


# ------------------------------------------------------- F16+ VARIANT (Spark 4)
def test_q31_variant_matches_sql_oracle(spark, sf_dir):
    from audience_finder_pro_spark.queries import QUERIES
    from audience_finder_pro_spark.queries.relational import _VARIANT_ORACLE
    from tests.oracle import compare

    compare(
        QUERIES["q31_variant_funcs"](spark, sf_dir), _VARIANT_ORACLE, sf_dir,
        name="q31_variant_funcs",
    )


def test_variant_malformed_and_missing_paths(spark):
    """try_variant_get must yield NULL (not an error) on missing paths
    and try_parse_json NULL on malformed payloads."""
    df = spark.createDataFrame(
        [('{"k": 1}',), ("not json at all",), ('{"other": 2}',)], "props string"
    )
    out = df.select(
        F.try_variant_get(F.try_parse_json("props"), "$.k", "int").alias("k")
    ).collect()
    assert [r.k for r in out] == [1, None, None]


# -------------------------------------------------- W+ funnel / cohort retention
def test_funnel_and_cohort_match_sql_oracles(spark, sf_dir):
    from audience_finder_pro_spark.queries import QUERIES
    from audience_finder_pro_spark.queries.relational import _COHORT_ORACLE, _FUNNEL_ORACLE
    from tests.oracle import compare

    compare(QUERIES["funnel_steps"](spark, sf_dir), _FUNNEL_ORACLE, sf_dir, name="funnel_steps")
    compare(
        QUERIES["cohort_retention"](spark, sf_dir), _COHORT_ORACLE, sf_dir,
        name="cohort_retention",
    )


def test_funnel_strict_ordering_semantics(spark):
    """A user whose purchase happens BEFORE their click must not count as
    step 3; equal timestamps do not advance the funnel (strictly after)."""
    from audience_finder_pro_spark.operators.funnel import funnel

    rows = [
        (1, "view", 10), (1, "click", 20), (1, "purchase", 30),   # full funnel
        (2, "view", 10), (2, "purchase", 15), (2, "click", 20),   # purchase too early
        (3, "view", 10), (3, "click", 10),                        # tie: not after
        (4, "click", 5),                                          # no view: never enters
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string, t long").select(
        "user_id", "event_type", F.timestamp_seconds("t").alias("ts")
    )
    out = {r.step: r for r in funnel(df).collect()}
    assert out["view"].n_users == 3
    assert out["click"].n_users == 2          # users 1 and 2
    assert out["purchase"].n_users == 1       # user 1 only
    assert out["purchase"].conversion == round(1 / 3, 4)


def test_degenerate_inputs_yield_null_not_ansi_error(spark):
    """ANSI mode is on: every ratio whose denominator can be 0 on a
    degenerate-but-legal input must yield NULL, not DIVIDE_BY_ZERO —
    funnel with zero first-step events, mixture weights over an
    all-empty corpus slice, LM scoring under an empty train corpus."""
    from audience_finder_pro_spark.operators.funnel import funnel
    from audience_finder_pro_spark.operators.relevance import lm_score_docs
    from audience_finder_pro_spark.operators.sampling import mixture_weights

    no_views = spark.createDataFrame(
        [(1, "click", 5), (1, "purchase", 9)], "user_id long, event_type string, t long"
    ).select("user_id", "event_type", F.timestamp_seconds("t").alias("ts"))
    out = funnel(no_views).collect()
    assert [r.n_users for r in sorted(out, key=lambda r: r.step_idx)] == [0, 0, 0]
    assert all(r.conversion is None for r in out)

    empty_text = spark.createDataFrame(
        [(1, "", "web"), (2, "   ", "web"), (3, None, "books")],
        "doc_id long, text string, source string",
    )
    w = mixture_weights(empty_text, group_col="source").collect()
    assert {r.source for r in w} == {"web", "books"}
    assert all(r.raw_share is None and r.weight is None for r in w)

    empty_train = spark.createDataFrame([], "doc_id long, text string")
    scored = lm_score_docs(empty_train, empty_text.limit(0).drop("source")).collect()
    assert scored == []  # nothing to score either — but the plan must analyze+run
    some_docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    scored2 = lm_score_docs(empty_train, some_docs).collect()
    assert len(scored2) == 1 and scored2[0].lm_logprob is None


def test_validate_table_fk_only_rules(spark):
    """A rules list with only ref_integrity rules must produce an FK-only
    report (no malformed stack(0)); an empty rules list raises."""
    import pytest as _pytest

    from audience_finder_pro_spark.operators.validate import validate_table

    df = spark.createDataFrame([(1, 10), (2, 99)], "id long, fk long")
    ref = spark.createDataFrame([(10,), (11,)], "k long")
    out = validate_table(
        df, [("fk_ok", "ref_integrity", {"col": "fk", "ref": ref, "ref_col": "k"})]
    ).collect()
    assert len(out) == 1
    assert out[0].rule == "fk_ok" and out[0].n_violations == 1 and not out[0].passed
    with _pytest.raises(ValueError, match="rules list is empty"):
        validate_table(df, [])


def test_cohort_retention_semantics(spark):
    """Two cohorts a week apart; offset-0 retention is 1.0 and later
    offsets count only users actually active that week."""
    from audience_finder_pro_spark.operators.funnel import cohort_retention

    W = 604800
    rows = [
        (1, "signup", 0), (2, "signup", 0), (3, "signup", W),
        (1, "view", W),                     # cohort-0 user active in week 1
        (2, "view", 2 * W), (3, "view", W),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string, t long").select(
        "user_id", "event_type", F.timestamp_seconds("t").alias("ts")
    )
    got = {(r.cohort_week, r.week_offset): r for r in cohort_retention(df).collect()}
    assert got[(0, 0)].n_active == 2 and got[(0, 0)].retention == 1.0
    assert got[(0, 1)].n_active == 1 and got[(0, 1)].retention == 0.5
    assert got[(0, 2)].n_active == 1
    assert got[(1, 0)].n_active == 1 and got[(1, 0)].n_cohort == 1


# ------------------------------------------------ E50 exact group quantiles
def test_exact_quantiles_matches_sql_oracle(spark, sf_dir):
    """Declared past the 50-slot driver cap — this is its correctness
    gate, plus the bench comparator via _extra_oracles. DuckDB's
    sort-based quantile_disc vs the two-phase distinct-value-frame
    selection: the hash match proves the rank rule end to end.
    Verified at sf0.1 too on landing (NOTES audit rule)."""
    from audience_finder_pro_spark.queries import QUERIES
    from audience_finder_pro_spark.queries.relational import _QUANTILE_ORACLE
    from tests.oracle import compare

    compare(QUERIES["exact_quantiles"](spark, sf_dir), _QUANTILE_ORACLE,
            sf_dir, name="exact_quantiles")


def test_exact_group_quantiles_semantics(spark):
    """Planted values pin the contract: (1) the rank rule is
    max(ceil(q*n), 1) — DuckDB quantile_disc semantics, hand-walked at
    both n parities; (2) duplicates weight the CDF (quantiles respect
    multiplicity, not distinct values); (3) NULLs are dropped; (4)
    q=0 -> minimum, q=1 -> maximum; (5) validation raises on empty or
    out-of-range q."""
    import pytest
    from pyspark.sql import functions as F

    from audience_finder_pro_spark.operators.skew import exact_group_quantiles

    # key 'a': [10, 20, 30, 40]; key 'b': [1, 1, 1, 9, 9] (multiplicity)
    rows = [("a", v) for v in (10, 20, 30, 40)] + \
           [("b", v) for v in (1, 1, 1, 9, 9)] + [("a", None)]
    df = spark.createDataFrame(rows, "k string, v int")
    got = {
        (r.k, r.q): r.quantile
        for r in exact_group_quantiles(
            df, ["k"], "v", [0.0, 0.25, 0.5, 0.75, 1.0]
        ).collect()
    }
    # n=4 (NULL dropped): ranks ceil(q*4) -> 1,1,2,3,4
    assert got[("a", 0.0)] == 10 and got[("a", 0.25)] == 10
    assert got[("a", 0.5)] == 20 and got[("a", 0.75)] == 30
    assert got[("a", 1.0)] == 40
    # n=5 with multiplicity: CDF 1:3, 9:5 -> ranks 1,2,3,4,5
    assert got[("b", 0.25)] == 1 and got[("b", 0.5)] == 1
    assert got[("b", 0.75)] == 9 and got[("b", 1.0)] == 9

    with pytest.raises(ValueError):
        exact_group_quantiles(df, ["k"], "v", [])
    with pytest.raises(ValueError):
        exact_group_quantiles(df, ["k"], "v", [1.5])


# ------------------------------------------- E61 weighted exact quantiles
def test_token_weighted_quantiles_matches_sql_oracle(spark, sf_dir):
    """Declared past the 50-slot driver cap — this is its correctness
    gate, plus the bench comparator via _extra_oracles. Verified at
    sf0.1 too on landing (NOTES audit rule)."""
    from audience_finder_pro_spark.queries import QUERIES
    from audience_finder_pro_spark.queries.llm import _WEIGHTED_QUANTILE_ORACLE
    from tests.oracle import compare

    compare(QUERIES["token_weighted_quantiles"](spark, sf_dir),
            _WEIGHTED_QUANTILE_ORACLE, sf_dir, name="token_weighted_quantiles")


def test_weighted_group_quantiles_semantics(spark):
    """Planted values pin the E61 contract: (1) weights move the CDF —
    values [1, 10] with weights [9, 1] put the median at 1 but the
    token-mass p95 at 10; (2) unit weights reduce EXACTLY to
    exact_group_quantiles (the E50 rank rule generalizes); (3) NULL
    values and NULL weights are dropped; (4) validation raises."""
    import pytest

    from audience_finder_pro_spark.operators.skew import (
        exact_group_quantiles,
        weighted_group_quantiles,
    )

    rows = [("a", 1, 9), ("a", 10, 1), ("a", None, 5), ("a", 7, None)]
    df = spark.createDataFrame(rows, "k string, v int, w int")
    got = {
        (r.k, r.q): r.quantile
        for r in weighted_group_quantiles(
            df, ["k"], "v", "w", [0.5, 0.75, 1.0]
        ).collect()
    }
    # W=10: targets ceil(.5*10)=5 -> 1 (cum 9), ceil(.75*10)=8 -> 1, 1.0 -> 10
    assert got == {("a", 0.5): 1, ("a", 0.75): 1, ("a", 1.0): 10}

    # unit weights ≡ E50 on a multiplicity-bearing key
    rows2 = [("b", v, 1) for v in (1, 1, 1, 9, 9)]
    df2 = spark.createDataFrame(rows2, "k string, v int, w int")
    qs = [0.0, 0.25, 0.5, 0.75, 1.0]
    w_got = sorted(
        (r.q, r.quantile)
        for r in weighted_group_quantiles(df2, ["k"], "v", "w", qs).collect()
    )
    e_got = sorted(
        (r.q, r.quantile)
        for r in exact_group_quantiles(df2.drop("w"), ["k"], "v", qs).collect()
    )
    assert w_got == e_got

    with pytest.raises(ValueError):
        weighted_group_quantiles(df, ["k"], "v", "w", [])
    with pytest.raises(ValueError):
        weighted_group_quantiles(df, ["k"], "v", "w", [-0.1])


# ------------------------------------------- E54 seasonal decomposition
def test_seasonal_trend_matches_sql_oracle(spark, sf_dir):
    """Declared past the 50-slot driver cap — this is its correctness
    gate, plus the bench comparator via _extra_oracles. Verified at
    sf0.1 too on landing (NOTES audit rule)."""
    from audience_finder_pro_spark.queries import QUERIES
    from audience_finder_pro_spark.queries.relational import _SEASONAL_ORACLE
    from tests.oracle import compare

    compare(QUERIES["seasonal_trend"](spark, sf_dir), _SEASONAL_ORACLE,
            sf_dir, name="seasonal_trend")


def test_seasonal_decompose_semantics(spark):
    """A planted pure-period-3 series pins the contract: value(t) =
    10 + [0, 3, 6][t % 3] over 9 buckets. (1) every complete centered
    window sums to 3*13 so trend == 13 exactly; (2) the seasonal
    means recover the per-position deviations from trend (-3, 0, +3
    in trend-centered terms); (3) residuals are 0 everywhere the
    trend is defined; (4) edges (first/last bucket) have NULL
    trend/residual but still a pos and value; (5) even periods
    raise."""
    import pytest
    from pyspark.sql import functions as F

    from audience_finder_pro_spark.operators.timeseries import seasonal_decompose

    rows = [("a", i, 10 + 3 * (i % 3)) for i in range(9)]
    df = spark.createDataFrame(rows, "key string, bucket int, n int")
    got = {r.bucket: r for r in seasonal_decompose(
        df, "key", "bucket", "n", period=3).collect()}
    assert len(got) == 9
    for t in range(1, 8):  # complete windows
        assert got[t].trend == 13.0, got[t]
        assert got[t].seasonal == {0: -3.0, 1: 0.0, 2: 3.0}[t % 3], got[t]
        assert got[t].residual == 0.0, got[t]
        assert got[t].pos == t % 3 and got[t].value == 10 + 3 * (t % 3)
    assert got[0].trend is None and got[0].residual is None
    assert got[8].trend is None and got[8].residual is None

    with pytest.raises(ValueError):
        seasonal_decompose(df, "key", "bucket", "n", period=4)


# ------------------------------------------- E55 robust MAD outlier profile
def test_mad_outliers_matches_sql_oracle(spark, sf_dir):
    """Declared past the 50-slot driver cap — this is its correctness
    gate, plus the bench comparator via _extra_oracles. Verified at
    sf0.1 too on landing (NOTES audit rule)."""
    from audience_finder_pro_spark.queries import QUERIES
    from audience_finder_pro_spark.queries.relational import _MAD_ORACLE
    from tests.oracle import compare

    compare(QUERIES["mad_outliers"](spark, sf_dir), _MAD_ORACLE,
            sf_dir, name="mad_outliers")


def test_grouped_mad_semantics(spark):
    """Planted series pin the contract: (1) hand-computed median/MAD on
    a small asymmetric series; (2) a single extreme spike IS flagged
    while the robust baseline ignores it (the same spike dragged into a
    mean/std baseline would need z over the same threshold — the
    breakdown property); (3) MAD=0 on a majority-constant key yields
    zero outliers, not a division blowup; (4) NULLs are dropped."""
    from audience_finder_pro_spark.operators.skew import grouped_mad

    rows = (
        # key 'a': 1..9 plus a 1000 spike; median 5 (ranks: n=11 ->
        # ceil(.5*11)=6 -> 6th of [1..9,1000, plus one more value 6]?)
        [("a", float(v)) for v in range(1, 10)] + [("a", 1000.0), ("a", 5.0)]
        # key 'b': constant 7 except one 8 -> median 7, MAD 0
        + [("b", 7.0)] * 6 + [("b", 8.0)]
        + [("a", None)]
    )
    df = spark.createDataFrame(rows, "k string, v double")
    got = {r.k: r for r in grouped_mad(df, ["k"], "v").collect()}
    # key a sorted: [1,2,3,4,5,5,6,7,8,9,1000] n=11 -> rank 6 -> 5.0
    assert got["a"].n == 11 and got["a"].median == 5.0
    # deviations sorted: [0,0,1,1,2,2,3,3,4,4,995] -> rank 6 -> 2.0
    assert got["a"].mad == 2.0
    # modified z of the spike: .6745*995/2 = 335 >> 3.5; of 9: .6745*4/2=1.35
    assert got["a"].n_outliers == 1
    assert got["b"].n == 7 and got["b"].median == 7.0 and got["b"].mad == 0.0
    assert got["b"].n_outliers == 0


# ------------------------------------------------- E56 top session paths
def test_top_paths_matches_sql_oracle(spark, sf_dir):
    """Declared past the 50-slot driver cap — this is its correctness
    gate, plus the bench comparator via _extra_oracles. Verified at
    sf0.1 too on landing (NOTES audit rule)."""
    from audience_finder_pro_spark.queries import QUERIES
    from audience_finder_pro_spark.queries.relational import _PATHS_ORACLE
    from tests.oracle import compare

    compare(QUERIES["top_paths"](spark, sf_dir), _PATHS_ORACLE,
            sf_dir, name="top_paths")


def test_top_paths_semantics(spark):
    """Planted sessions pin the contract: (1) a gap > threshold starts
    a new session (two paths from one user); (2) paths join in
    (ts, event_id) order including a timestamp TIE broken by event_id;
    (3) truncation keeps the FIRST max_len steps; (4) counting is per
    session, ordered (n desc, path asc)."""
    import datetime as dt

    from audience_finder_pro_spark.operators.funnel import top_paths

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    s = lambda sec: t0 + dt.timedelta(seconds=sec)
    rows = [
        # user 1, session 1: a > b > c (b/c tie on ts — ids order them)
        (1, s(0), "a", 10), (1, s(5), "c", 12), (1, s(5), "b", 11),
        # user 1, session 2 (gap 3600s): a > b
        (1, s(5000), "a", 13), (1, s(5010), "b", 14),
        # user 2: a > b (same path as user 1 session 2)
        (2, s(0), "a", 20), (2, s(10), "b", 21),
        # user 3: six steps, truncated to 5
        (3, s(0), "a", 30), (3, s(1), "b", 31), (3, s(2), "c", 32),
        (3, s(3), "a", 33), (3, s(4), "b", 34), (3, s(5), "c", 35),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string, event_id long"
    )
    got = [(r.path, r.n_sessions) for r in top_paths(df, k=10, max_len=5).collect()]
    assert got == [
        ("a>b", 2),               # ties on count broken by path asc
        ("a>b>c", 1),             # the tie-broken session (b before c)
        ("a>b>c>a>b", 1),         # truncated at 5 of 6 steps
    ]


# ------------------------------------ E74 multi-touch attribution
def test_touch_attribution_matches_sql_oracle(spark, sf_dir):
    """Declared past the 50-slot driver cap — this is its correctness
    gate, plus the bench comparator via _extra_oracles. Verified at
    sf0.1 too on landing (NOTES audit rule)."""
    from audience_finder_pro_spark.queries import QUERIES
    from audience_finder_pro_spark.queries.relational import _ATTRIBUTION_ORACLE
    from tests.oracle import compare

    compare(QUERIES["touch_attribution"](spark, sf_dir), _ATTRIBUTION_ORACLE,
            sf_dir, name="touch_attribution")


def test_touch_attribution_planted_semantics(spark):
    """Pins the E74 contract on a hand-walked event log: (1) first vs
    last picks with (ts, id) tiebreaks; (2) linear split across the
    eligible touches only; (3) the closed horizon — a touch exactly
    horizon_days before counts, one second earlier does not, and a
    touch AFTER the conversion never does; (4) conversions with no
    eligible touch land in the unattributed leg; (5) every model's
    value total reconciles exactly to the conversion total; (6)
    negative horizon raises."""
    import datetime as dt

    import pytest

    from audience_finder_pro_spark.operators.funnel import touch_attribution

    t0 = dt.datetime(2024, 1, 10, 12, 0, 0)

    def s(**kw):
        return t0 + dt.timedelta(**kw)

    rows = [
        # user 1: two clicks then a purchase of 90 -> first=d-2, last=d-1,
        # linear 45/45; a click AFTER the purchase must not count
        (1, s(days=-2), "click", None, 10),
        (1, s(days=-1), "click", None, 11),
        (1, s(), "purchase", 90.0, 12),
        (1, s(hours=1), "click", None, 13),
        # user 2: one click exactly 7 days before (closed horizon: in),
        # purchase of 50
        (2, s(days=-7), "click", None, 20),
        (2, s(), "purchase", 50.0, 21),
        # user 3: click 7 days + 1 second before (out) -> unattributed 30
        (3, s(days=-7, seconds=-1), "click", None, 30),
        (3, s(), "purchase", 30.0, 31),
        # user 4: same-ts clicks -> id tiebreak picks 40 first, 41 last...
        # same ts, first_w orders (ts asc, id asc) -> 40; last_w
        # (ts desc, id asc) -> 40 too: same-ts ties give the LOWEST id
        # for both models (deterministic, documented by this test)
        (4, s(minutes=-5), "click", None, 40),
        (4, s(minutes=-5), "click", None, 41),
        (4, s(), "purchase", 20.0, 42),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string, "
              "value double, event_id long"
    )
    out = touch_attribution(df, "purchase", "click", horizon_days=7)
    got = {(r.model, r.touch_date): (r.attributed, r.n_conv) for r in out.collect()}

    d = lambda **kw: (t0 + dt.timedelta(**kw)).date()  # noqa: E731
    assert got[("first_touch", d(days=-2))] == (90.0, 1)
    assert got[("first_touch", d(days=-7))] == (50.0, 1)
    assert got[("first_touch", d(minutes=-5))] == (20.0, 1)
    assert got[("last_touch", d(days=-1))] == (90.0, 1)
    assert got[("last_touch", d(days=-7))] == (50.0, 1)
    assert got[("last_touch", d(minutes=-5))] == (20.0, 1)
    assert got[("linear", d(days=-2))] == (45.0, 1)
    assert got[("linear", d(days=-1))] == (45.0, 1)
    assert got[("unattributed", None)] == (30.0, 1)

    # (5) reconciliation: every model totals to 90+50+20 (+30 unattributed)
    totals: dict[str, float] = {}
    for (model, _), (v, _n) in got.items():
        totals[model] = round(totals.get(model, 0.0) + v, 4)
    assert totals["first_touch"] == totals["last_touch"] == totals["linear"] == 160.0
    assert totals["unattributed"] == 30.0

    with pytest.raises(ValueError):
        touch_attribution(df, horizon_days=-1)


# ------------------------------------ E76 SCD2 dimension history
def test_scd2_history_matches_sql_oracle(spark, sf_dir):
    """Declared past the 50-slot driver cap — this is its correctness
    gate, plus the bench comparator via _extra_oracles. Verified at
    sf0.1 too on landing (NOTES audit rule)."""
    from audience_finder_pro_spark.queries import QUERIES
    from audience_finder_pro_spark.queries.relational import _SCD2_ORACLE
    from tests.oracle import compare

    compare(QUERIES["scd2_history"](spark, sf_dir), _SCD2_ORACLE,
            sf_dir, name="scd2_history")


def test_scd2_history_planted_semantics(spark):
    """Pins the E76 contract on a hand-walked change log: (1) value
    changes open versions with touching [valid_from, valid_to)
    intervals; (2) a re-asserted value opens NO version (null-safe:
    NULL->NULL collapses, NULL->value and value->NULL are changes);
    (3) same-ts ties order by id; (4) the last version is open
    (valid_to NULL, is_current); (5) empty attr list raises."""
    import datetime as dt

    import pytest

    from audience_finder_pro_spark.operators.timeseries import scd2_history

    t = lambda m: dt.datetime(2024, 3, 1, 12, m)  # noqa: E731
    rows = [
        (1, "a", t(0), 10),
        (1, "a", t(1), 11),      # re-asserted -> collapsed
        (1, "b", t(2), 12),      # change -> v2
        (1, None, t(3), 13),     # value->NULL -> v3
        (1, None, t(4), 14),     # NULL->NULL -> collapsed
        (1, "b", t(5), 15),      # NULL->value -> v4
        # user 2: same-ts tie — id order makes 'y' the later update
        (2, "x", t(0), 20),
        (2, "y", t(0), 21),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, seg string, ts timestamp, event_id long"
    )
    out = scd2_history(df, "user_id", ["seg"]).collect()
    u1 = sorted([r for r in out if r.user_id == 1], key=lambda r: r.version)
    assert [(r.seg, r.valid_from.minute, r.version) for r in u1] == [
        ("a", 0, 1), ("b", 2, 2), (None, 3, 3), ("b", 5, 4)
    ]
    assert [r.valid_to.minute for r in u1[:-1]] == [2, 3, 5]  # touching
    assert u1[-1].valid_to is None and u1[-1].is_current
    assert all(not r.is_current for r in u1[:-1])
    u2 = sorted([r for r in out if r.user_id == 2], key=lambda r: r.version)
    assert [(r.seg, r.version, r.is_current) for r in u2] == [
        ("x", 1, False), ("y", 2, True)
    ]

    with pytest.raises(ValueError):
        scd2_history(df, "user_id", [])


# ------------------------------------ E77 interval overlap join
def test_order_overlap_pairs_matches_sql_oracle(spark, sf_dir):
    """Declared past the 50-slot driver cap — this is its correctness
    gate, plus the bench comparator via _extra_oracles. Verified at
    sf0.1 too on landing (NOTES audit rule)."""
    from audience_finder_pro_spark.queries import QUERIES
    from audience_finder_pro_spark.queries.relational import (
        _INTERVAL_OVERLAP_ORACLE,
    )
    from tests.oracle import compare

    compare(QUERIES["order_overlap_pairs"](spark, sf_dir),
            _INTERVAL_OVERLAP_ORACLE, sf_dir, name="order_overlap_pairs")


def test_interval_join_planted_semantics(spark):
    """Pins the E77 contract: (1) half-open semantics — touching
    intervals ([0,10) vs [10,20)) do NOT overlap, one shared unit does;
    (2) the first-common-bucket rule emits each overlapping pair EXACTLY
    once at every bucket width (1, 3, 7, 100 — spanning sub-interval to
    super-interval widths) and on any partitioning; (3) empty intervals
    (e <= s) never match; (4) keys scope the join; (5) width validation
    raises."""
    import pytest

    from audience_finder_pro_spark.operators.asof import interval_join

    rows = [
        # key 'a': [0,10) [10,20) touch; [5,15) overlaps both
        ("a", 1, 0, 10), ("a", 2, 10, 20), ("a", 3, 5, 15),
        # long interval spanning many buckets overlaps a short one
        ("a", 4, 0, 100), ("a", 5, 98, 99),
        # empty interval never matches anything
        ("a", 6, 50, 50),
        # key 'b': identical span to a's 1 — keys must scope
        ("b", 7, 0, 10),
    ]
    df = spark.createDataFrame(rows, "k string, id long, start long, end long")
    want = {
        (1, 3), (2, 3),          # the 5..15 bridge
        (1, 4), (2, 4), (3, 4),  # the long interval covers them
        (4, 5),                  # and the short tail probe
    }
    for width in (1, 3, 7, 100):
        for parts in (1, 5):
            out = interval_join(
                df.repartition(parts), df.repartition(parts),
                keys=["k"], bucket_width=width,
            ).filter(F.col("id_l") < F.col("id_r"))
            got = [(r.id_l, r.id_r) for r in out.collect()]
            assert len(got) == len(set(got)), (width, parts, "duplicate pair")
            assert set(got) == want, (width, parts)

    with pytest.raises(ValueError):
        interval_join(df, df, keys=["k"], bucket_width=0)


def test_interval_join_closed_form_stress(spark):
    """Scale evidence for E77 (the salted-join-stress precedent): 1M
    synthetic intervals (10 keys x 100k) in a regular overlap geometry
    whose pair count has a CLOSED FORM — interval i = [10i, 10i+40)
    overlaps exactly the m-1 = 3 neighbors on each side, so ordered
    pairs per key = 3N - 6. The bucketed plan must produce the exact
    count (first-common-bucket dedup at 1M-row scale, replication ~2x
    at width 64), and a run at a deliberately BAD width (512, ~13x
    replication) must produce the same count — width is a performance
    model, never a correctness knob."""
    from audience_finder_pro_spark.operators.asof import interval_join

    N, K = 100_000, 10
    iv = (
        spark.range(N * K)
        .select(
            (F.col("id") % K).alias("k"),
            F.col("id").alias("iid"),
            ((F.col("id") / K).cast("long") * 10).alias("start"),
            ((F.col("id") / K).cast("long") * 10 + 40).alias("end"),
        )
    )
    want = K * (3 * N - 6)
    for width in (64, 512):
        got = (
            interval_join(iv, iv, keys=["k"], bucket_width=width)
            .filter(F.col("iid_l") < F.col("iid_r"))
            .count()
        )
        assert got == want, (width, got, want)


def test_touch_attribution_hot_user(spark):
    """Skew evidence for E74: one user carries 100x every other user's
    events (the hot join key by construction — AQE's skew-join splits
    the user-keyed exchange at runtime). Semantics must be exact and
    partitioning-independent: the hot user's single conversion linearly
    splits over ALL its horizon clicks, and the reconciliation identity
    holds."""
    import datetime as dt

    from audience_finder_pro_spark.operators.funnel import touch_attribution

    t0 = dt.datetime(2024, 2, 1, 12, 0, 0)
    rows = []
    # hot user 1: 2,000 clicks inside the horizon, one purchase of 100
    for i in range(2000):
        rows.append((1, t0 - dt.timedelta(minutes=i + 1), "click", None, i))
    rows.append((1, t0, "purchase", 100.0, 99999))
    # 20 cold users: one click + one purchase each
    for u in range(2, 22):
        rows.append((u, t0 - dt.timedelta(hours=1), "click", None, 100000 + u))
        rows.append((u, t0, "purchase", 10.0, 200000 + u))
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string, "
              "value double, event_id long"
    )
    for parts in (1, 8):
        out = touch_attribution(
            df.repartition(parts), "purchase", "click", horizon_days=7
        ).collect()
        tot = {}
        for r in out:
            tot[r.model] = round(tot.get(r.model, 0.0) + r.attributed, 4)
        # reconciliation: every model totals 100 + 20*10 = 300
        assert tot["first_touch"] == tot["last_touch"] == tot["linear"] == 300.0
        assert "unattributed" not in tot
        # the hot user's linear split: 2,000 contributions of
        # 100/2000 = 0.05; minutes 1..720 before noon land on t0's date
        # (720 x 0.05 = 36.0), plus the 20 cold single-click users'
        # full 10.0 each (same day) -> linear day-0 total = 236.0 exactly
        linear_day0 = [
            r for r in out
            if r.model == "linear" and r.touch_date == t0.date()
        ]
        assert len(linear_day0) == 1 and linear_day0[0].attributed == 236.0


def test_free_checkpoint_logs_what_it_swallows(caplog):
    """Best-effort but not silent: a plan walk that raises is logged as a
    warning with its traceback, and the call still returns."""
    import logging
    from types import SimpleNamespace

    from audience_finder_pro_spark.caching import free_checkpoint

    class BrokenPlan:
        def queryExecution(self):
            raise RuntimeError("plan walk failed")

    with caplog.at_level(logging.WARNING, logger="audience_finder_pro_spark.caching"):
        free_checkpoint(SimpleNamespace(_jdf=BrokenPlan()))
    (rec,) = caplog.records
    assert rec.levelno == logging.WARNING
    assert rec.exc_info and "plan walk failed" in str(rec.exc_info[1])
