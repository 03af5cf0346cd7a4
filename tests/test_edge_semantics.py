"""Regression tests for edge semantics found in review:

1. Cased corpus anchors must be spottable (stores normalize to the
   spotters' lowercase token space) with correct annotation_prob.
2. A document with zero in-vocabulary context tokens still gets its
   mentions annotated (prior-only) on both the fused and the
   relational scorer.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dbpedia_spotlight_db_spark import schemas
from dbpedia_spotlight_db_spark.plans.annotate import AnnotateConfig, annotate
from dbpedia_spotlight_db_spark.plans.annotate_fused import annotate_fused
from dbpedia_spotlight_db_spark.plans.build_stores import build_stores


@pytest.fixture(scope="module")
def cased_world(spark):
    corpus = spark.createDataFrame(
        [
            (
                1,
                "Paris is the capital and Paris hosts the Louvre museum",
                [
                    {"start": 0, "end": 5, "surface_form": "Paris", "uri": "dbr:Paris"},
                    {"start": 25, "end": 30, "surface_form": "Paris", "uri": "dbr:Paris"},
                ],
            ),
            (
                2,
                "The louvre museum and paris appear in lowercase text here",
                [
                    {"start": 22, "end": 27, "surface_form": "paris", "uri": "dbr:Paris"},
                ],
            ),
        ],
        schema=schemas.WIKI_CORPUS,
    )
    return build_stores(spark, corpus, salt_n=4)


def test_cased_anchor_spottable(spark, cased_world):
    sf = {r.surface_form: r for r in cased_world["surface_forms"].collect()}
    # store key is the lowercased form, counts merged across casings
    assert "paris" in sf and "Paris" not in sf
    assert sf["paris"].annotated_count == 3
    # 'paris' appears 3x as raw text (docs 1 twice + doc 2 once... doc2
    # has one more in running text) -> annotation_prob < 1 is not
    # required here; it must simply be a valid probability
    assert 0 < sf["paris"].annotation_prob <= 1.0

    pages = spark.createDataFrame(
        [
            (
                "doc://x",
                None,
                "<html><head><title>t</title></head><body>Paris is lovely</body></html>".encode(),
                "Paris is lovely",
                "en",
            )
        ],
        schema=schemas.PAGES,
    )
    ann = annotate_fused(spark, pages, cased_world, AnnotateConfig())
    rows = ann.collect()
    assert any(r.surface_form == "paris" and r.uri == "dbr:Paris" for r in rows)


def test_oov_context_doc_still_annotated(spark, cased_world):
    # every context token is OOV w.r.t. the store vocabulary except the
    # mention itself; both scorers must emit the mention
    text = "zzq wwk Paris qqv xxj"
    html = f"<html><head><title>t</title></head><body>{text}</body></html>".encode()
    pages = spark.createDataFrame(
        [("doc://oov", None, html, text, "en")], schema=schemas.PAGES
    )

    def keys(df):
        return {(r.url, r.start, r.end, r.surface_form, r.uri) for r in df.collect()}

    fused = keys(annotate_fused(spark, pages, cased_world, AnnotateConfig()))
    rel = keys(annotate(spark, pages, cased_world, AnnotateConfig()))
    assert fused == rel
    assert any(k[3] == "paris" for k in fused)


def test_all_stopword_context_doc_still_annotated(spark, cased_world):
    """T2 edge: every context token around the mention is a stopword
    (excluded from the analysis chain), so the context vector is empty
    — the fused, relational and window paths must still emit the
    mention, scored by prior alone, and agree with each other."""
    text = "the and of Paris to in is"
    html = f"<html><head><title>t</title></head><body>{text}</body></html>".encode()
    pages = spark.createDataFrame(
        [("doc://stop", None, html, text, "en")], schema=schemas.PAGES
    )

    def keys(df):
        return {(r.url, r.start, r.end, r.surface_form, r.uri) for r in df.collect()}

    fused = keys(annotate_fused(spark, pages, cased_world, AnnotateConfig()))
    rel = keys(annotate(spark, pages, cased_world, AnnotateConfig()))
    win = keys(
        annotate_fused(
            spark, pages, cased_world, AnnotateConfig(context_window=2)
        )
    )
    assert fused == rel == win
    assert any(k[3] == "paris" for k in fused)


def test_asof_join_edges(spark):
    """As-of join edge semantics: equal-ts right row wins (<=), ties
    among equal-ts right rows resolve to the largest value, no prior
    right row -> NULL, keys never leak across partitions."""
    import datetime as dt

    from dbpedia_spotlight_db_spark.operators.asof import asof_join

    T = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    left = spark.createDataFrame(
        [
            (1, 10, T(5)),   # after right rows at 1,3 -> latest is 3
            (2, 10, T(3)),   # EXACTLY at a right ts -> that row (<=)
            (3, 10, T(0)),   # before any right row -> NULL
            (4, 20, T(9)),   # other key: equal-ts right tie -> max val
            (5, 30, T(9)),   # key with no right rows at all -> NULL
        ],
        ["event_id", "k", "ts"],
    )
    right = spark.createDataFrame(
        [
            (10, T(1), 100),
            (10, T(3), 101),
            (20, T(9), 200),
            (20, T(9), 201),  # tie at same ts -> 201 wins
        ],
        ["k", "ts", "v"],
    )
    got = {
        r.event_id: r.asof_v
        for r in asof_join(left, right, "k", "ts", "v", "asof_v").collect()
    }
    assert got == {1: 101, 2: 101, 3: None, 4: 201, 5: None}


def test_time_range_join_edges(spark):
    """Range-join boundary semantics: right row exactly at l_ts - W is
    INCLUDED, exactly at l_ts is EXCLUDED; bucket-edge timestamps
    (l_ts a multiple of W) still find matches in the previous bucket;
    sub-second precision is honored by the residual filter."""
    import datetime as dt

    from dbpedia_spotlight_db_spark.operators.rangejoin import (
        time_range_join,
    )

    T = lambda s, us=0: dt.datetime(2024, 1, 1, 0, 0, 0) + dt.timedelta(  # noqa: E731
        seconds=s, microseconds=us
    )
    W = 60
    left = spark.createDataFrame(
        [
            (1, T(120)),        # exactly on a bucket edge
            (2, T(90)),         # mid-bucket
            (3, T(59, 999999)), # sub-second, just inside first bucket
        ],
        ["lid", "l_ts"],
    )
    right = spark.createDataFrame(
        [
            (10, T(60)),         # = l1 - W -> INCLUDED for l1; < l2-W? 90-60=30, 60>=30 yes INCLUDED for l2
            (11, T(120)),        # = l1 ts -> EXCLUDED for l1
            (12, T(119, 999999)),# just below l1 -> INCLUDED for l1
            (13, T(0)),          # = l3 - 59.999999s? l3-W = -0.000001 -> INCLUDED for l3
            (14, T(29)),         # INCLUDED for l2 (90-60=30? 29 < 30 -> EXCLUDED)
        ],
        ["rid", "r_ts"],
    )
    got = {
        (r.lid, r.rid)
        for r in time_range_join(left, right, "l_ts", "r_ts", W).collect()
    }
    want = set()
    for lid, lts in [(1, T(120)), (2, T(90)), (3, T(59, 999999))]:
        for rid, rts in [
            (10, T(60)), (11, T(120)), (12, T(119, 999999)),
            (13, T(0)), (14, T(29)),
        ]:
            if lts - dt.timedelta(seconds=W) <= rts < lts:
                want.add((lid, rid))
    assert got == want


def test_normalize_url_edges(spark):
    """Edge semantics of the URL canonicalizer: garbage passthrough,
    non-default port kept, tracking-only query dropped, path case
    preserved, param sorting, fragment removal."""
    from pyspark.sql import functions as F

    from dbpedia_spotlight_db_spark.functions.web import normalize_url

    cases = [
        ("HTTPS://WWW.A.COM:443/X/Y/?b=2&a=1#z", "https://a.com/X/Y?a=1&b=2"),
        ("http://a.com:8080/p", "http://a.com:8080/p"),
        ("http://a.com/?utm_source=x&utm_medium=y", "http://a.com/"),
        ("https://a.com:80/p", "https://a.com:80/p"),  # 80 not https default
        ("not a url at all", "not a url at all"),
        ("  http://A.com  ", "http://a.com/"),
        ("ftp://Files.example.org/pub/", "ftp://files.example.org/pub"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], ["u"])
    got = [r.n for r in df.select(normalize_url("u").alias("n")).collect()]
    assert got == [want for _, want in cases]


def test_salted_join_equals_plain_under_skew(spark):
    """salted_join result set == plain join on a skewed input (one key
    carries 90% of the big side), inner and left_outer, with
    auto-broadcast disabled so the salted SHUFFLE path is what runs."""
    from dbpedia_spotlight_db_spark.operators.skewjoin import salted_join

    big = spark.createDataFrame(
        [(1 if i < 90 else i % 7, i) for i in range(100)], ["k", "payload"]
    )
    small = spark.createDataFrame(
        [(k, f"v{k}") for k in range(5)], ["sk", "val"]
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for how in ("inner", "left_outer"):
            got = {
                (r.k, r.payload, r.val)
                for r in salted_join(
                    big, small, "k", "sk", salt_n=4, how=how
                ).collect()
            }
            want = {
                (r.k, r.payload, r.val)
                for r in big.join(
                    small, big["k"] == small["sk"], how
                ).collect()
            }
            assert got == want, how
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_normalize_url_idempotent_and_twin_agrees(spark):
    """Two properties over a diverse URL corpus (wider than the
    fixture query's 4 shapes): (1) normalize is IDEMPOTENT — a second
    pass is a no-op (canonical forms are fixed points); (2) the
    DuckDB twin generator (normalize_url_sql) produces byte-identical
    results to the Spark expression on every input."""
    import duckdb
    from pyspark.sql import functions as F

    from dbpedia_spotlight_db_spark.functions.web import (
        normalize_url,
        normalize_url_sql,
    )

    schemes = ["http", "HTTPS", "ftp"]
    hosts = ["WWW.Ex.COM", "sub.ex.com", "ex.com"]
    ports = ["", ":80", ":443", ":8080"]
    paths = ["", "/", "/A/b/", "/x//y///"]
    queries = ["", "?b=2&a=1", "?utm_source=x", "?a=1&utm_b=2&fbclid=z&c=3"]
    frags = ["", "#sec"]
    urls = [
        f"{s}://{h}{po}{pa}{qu}{fr}"
        for s in schemes
        for h in hosts
        for po in ports
        for pa in paths
        for qu in queries
        for fr in frags
    ] + ["", "   ", "no scheme here", "mailto:x@y.z", "http://"]

    df = spark.createDataFrame([(u,) for u in urls], ["u"])
    rows = (
        df.select(
            "u",
            normalize_url("u").alias("n1"),
            normalize_url(normalize_url("u")).alias("n2"),
        )
        .collect()
    )
    for r in rows:
        assert r.n2 == r.n1, f"not idempotent: {r.u!r} -> {r.n1!r} -> {r.n2!r}"

    con = duckdb.connect()
    con.execute("CREATE TABLE urls (u VARCHAR)")
    con.executemany("INSERT INTO urls VALUES (?)", [(u,) for u in urls])
    duck = dict(
        con.execute(
            f"SELECT u, {normalize_url_sql('u')} FROM urls"
        ).fetchall()
    )
    for r in rows:
        assert duck[r.u] == r.n1, (
            f"twin drift: {r.u!r} spark={r.n1!r} duck={duck[r.u]!r}"
        )
