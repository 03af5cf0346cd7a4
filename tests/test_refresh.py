"""Incremental KG refresh (jobs/refresh.py): the merged snapshot must
equal a from-scratch annotate of the corpus' current state — stale
triples for re-crawled urls replaced wholesale, tombstoned urls gone,
untouched urls carried over byte-identically.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dbpedia_spotlight_db_spark.entrypoint import (
    annotate_to_triples,
    documents_as_pages,
    world_model_bc,
    world_stores,
)
from dbpedia_spotlight_db_spark.sources import catalog
from jobs.refresh import main, merge_triples

SF = "/root/testdata/sf0.001"


def _same(a, b):
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_refresh_end_to_end(spark, tmp_path):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    stores = world_stores(spark, docs)
    model_bc = world_model_bc(spark, stores)
    pages = documents_as_pages(docs)
    delta_pred = "CAST(substr(url, 7) AS BIGINT) % 7 = 0"
    old_pages = pages.filter(f"NOT ({delta_pred})")

    # base snapshot = annotate of the pre-refresh corpus, PLUS planted
    # stale rows for two delta urls (the refresh must erase them even
    # though today's annotate would never emit them)
    base = annotate_to_triples(spark, old_pages, stores, model_bc=model_bc)
    stale = spark.createDataFrame(
        [("doc://0", "stale_pred", "stale_obj"),
         ("doc://7", "stale_pred", "stale_obj")],
        ["subj", "pred", "obj"],
    )
    base_root = str(tmp_path / "base")
    catalog.save(base.unionByName(stale), "triples", base_root)

    # two non-delta urls disappear from the web
    gone = old_pages.select("url").limit(2)
    gone_path = str(tmp_path / "gone.parquet")
    gone.write.parquet(gone_path)
    gone_urls = {r["url"] for r in gone.collect()}

    out_root = str(tmp_path / "refreshed")
    main([
        "--base", base_root,
        "--pages", f"world:{SF}",
        "--stores", f"world:{SF}",
        "--out", out_root,
        "--gone-urls", gone_path,
        "--delta-filter", delta_pred,
    ])

    got = catalog.load(spark, "triples", out_root)
    # stale rows erased, tombstoned urls gone
    assert got.filter(F.col("pred") == "stale_pred").count() == 0
    assert got.filter(F.col("subj").isin(*gone_urls)).count() == 0
    # merged snapshot == from-scratch annotate of the current corpus
    expected = annotate_to_triples(
        spark,
        pages.filter(~F.col("url").isin(*gone_urls)),
        stores,
        model_bc=model_bc,
    )
    _same(got, expected)
    # manifest row count matches the data
    assert catalog.manifest(out_root, "triples")["rows"] == got.count()


def test_merge_triples_is_unhinted(spark):
    """The per-subject anti-join must leave the broadcast decision to
    AQE — the base is corpus-sized and the delta key set is only
    usually small (same discipline as dedup_survivors)."""
    base = spark.createDataFrame(
        [("u1", "dbo:mentions", "o"), ("u2", "dbo:mentions", "o")],
        ["subj", "pred", "obj"],
    )
    fresh = spark.createDataFrame(
        [("u2", "dbo:mentions", "o2")], ["subj", "pred", "obj"]
    )
    merged = merge_triples(base, fresh, fresh.select("subj"))
    logical = merged._jdf.queryExecution().optimizedPlan().toString()
    assert "ResolvedHint" not in logical
    rows = {(r["subj"], r["obj"]) for r in merged.collect()}
    assert rows == {("u1", "o"), ("u2", "o2")}


TRIPLE = "subj string, pred string, obj string"
M, TY = "dbo:mentions", "rdf:type"

# base snapshot of three pages over entities A..C (each typed); the
# fresh rows are what annotate_to_triples emits for the re-fetched u3
# and the new u4: mention rows plus the type rows of every entity they
# mention
BASE = [
    ("u1", M, "A"), ("u1", M, "B"), ("u2", M, "B"), ("u3", M, "C"),
    ("A", TY, "T1"), ("B", TY, "T2"), ("C", TY, "T3"), ("C", TY, "T4"),
]
FRESH = [
    ("u3", M, "B"), ("u3", M, "D"), ("u4", M, "D"),
    ("B", TY, "T2"), ("D", TY, "T5"),
]


def _keys(spark, urls):
    return spark.createDataFrame([(u,) for u in urls], "subj string")


def _merge_rows(spark, delta, gone, fresh=None):
    base = spark.createDataFrame(BASE, TRIPLE)
    fresh = fresh if fresh is not None else spark.createDataFrame(FRESH, TRIPLE)
    merged = merge_triples(base, fresh, _keys(spark, delta), _keys(spark, gone))
    return sorted(tuple(r) for r in merged.collect())


def test_merge_triples_entity_rows(spark):
    """u3 (the only page mentioning C) is re-fetched without C, u1 is
    tombstoned (A's only page): C and A lose their types; D, mentioned
    only by fresh rows, gets its type exactly once; B, mentioned by the
    kept u2 AND by fresh rows, keeps one type row."""
    got = _merge_rows(spark, delta=["u3", "u4"], gone=["u1"])
    assert got == sorted([
        ("u2", M, "B"), ("u3", M, "B"), ("u3", M, "D"), ("u4", M, "D"),
        ("B", TY, "T2"), ("D", TY, "T5"),
    ])


def test_merge_triples_keeps_types_of_carried_mentions(spark):
    """An entity whose mentions are all carried over keeps its types
    although no fresh row mentions it."""
    got = _merge_rows(spark, delta=["u4"], gone=[], fresh=spark.createDataFrame(
        [("u4", M, "D"), ("D", TY, "T5")], TRIPLE))
    assert got == sorted(BASE + [("u4", M, "D"), ("D", TY, "T5")])


def test_merge_triples_duplicate_keys(spark):
    """Duplicate delta and tombstone keys (a url both re-fetched and
    tombstoned, a key repeated) merge like the deduplicated key sets."""
    dedup = _merge_rows(spark, delta=["u3", "u4"], gone=["u1"])
    dup = _merge_rows(spark, delta=["u3", "u4", "u3", "u4"],
                      gone=["u1", "u1", "u3"])
    assert dup == dedup


def test_merge_triples_reads_fresh_once_per_branch(spark):
    """The annotated delta is a Python pass: the merged plan runs it
    once for the mention rows and once for the entity rows, and not
    again for the live-entity set."""
    def passthrough(batches):
        yield from batches

    fresh = spark.createDataFrame(FRESH, TRIPLE).mapInPandas(passthrough, TRIPLE)
    base = spark.createDataFrame(BASE, TRIPLE)
    merged = merge_triples(base, fresh, _keys(spark, ["u3", "u4"]), _keys(spark, ["u1"]))
    assert sorted(tuple(r) for r in merged.collect()) == _merge_rows(
        spark, delta=["u3", "u4"], gone=["u1"])
    plan = merged._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("MapInPandas") == 2, final
