"""One model loader for every job (``entrypoint.load_model``): a store
warehouse written by jobs/build_stores.py, with its redirects and
disambiguation pages, drives jobs/annotate.py and jobs/refresh.py, and
``build_model`` resolves the redirect closure on the driver."""

from __future__ import annotations

import pandas as pd
import pytest

from dbpedia_spotlight_db_spark import fixtures, schemas
from dbpedia_spotlight_db_spark.entrypoint import annotate_to_triples
from dbpedia_spotlight_db_spark.operators.closure import closure_dict
from dbpedia_spotlight_db_spark.plans.annotate_fused import build_model
from dbpedia_spotlight_db_spark.plans.build_stores import STORE_BUCKET_KEYS
from dbpedia_spotlight_db_spark.sources import catalog


def _triples(root: str, spark) -> set:
    return {tuple(r) for r in catalog.load(spark, "triples", root).collect()}


def _write_pages(spark, pdf: pd.DataFrame, path: str) -> str:
    spark.createDataFrame(pdf, schema=schemas.PAGES).write.parquet(path)
    return path


@pytest.fixture(scope="module")
def warehouse(spark, wiki_df, tmp_path_factory):
    """Store warehouse from jobs/build_stores.main, with the fixture
    redirects and disambiguation pages."""
    from jobs.build_stores import main

    d = tmp_path_factory.mktemp("warehouse")
    corpus = str(d / "corpus")
    wiki_df.write.parquet(corpus)
    red, dis = str(d / "redirects.parquet"), str(d / "disamb.parquet")
    fixtures.gen_redirects().to_parquet(red, index=False)
    fixtures.gen_disambiguations().to_parquet(dis, index=False)
    out = str(d / "wh")
    main(["--corpus", corpus, "--out", out, "--n-buckets", "4",
          "--redirects", red, "--disambiguations", dis])
    return out


def test_warehouse_annotate_drops_disambiguation_targets(
    spark, warehouse, pages_pdf, tmp_path
):
    """jobs/annotate.py over a warehouse with a disambiguations table
    emits none of its uris as an object; the same stores annotated
    without that table do emit some of them."""
    from jobs.annotate import main

    pages = _write_pages(spark, pages_pdf, str(tmp_path / "pages"))
    out = str(tmp_path / "triples")
    main(["--pages", pages, "--stores", warehouse, "--out", out])
    disamb = set(fixtures.gen_disambiguations()["uri"])
    objs = {o for _, _, o in _triples(out, spark)}
    assert objs and not objs & disamb

    stores = {n: catalog.load(spark, n, warehouse) for n in STORE_BUCKET_KEYS}
    red = catalog.load(spark, "redirects", warehouse)
    bare = annotate_to_triples(
        spark, spark.read.parquet(pages), stores,
        spark.sparkContext.broadcast(build_model(stores, red)),
    )
    assert {r.obj for r in bare.select("obj").collect()} & disamb


def test_refresh_job_on_warehouse_equals_fresh_annotate(
    spark, warehouse, pages_pdf, tmp_path
):
    """jobs/refresh.py on a warehouse (no fixture world): a base
    snapshot from jobs/annotate.py, refreshed with re-fetched and new
    pages and two tombstones, equals jobs/annotate.py over the
    corpus' current state."""
    from jobs.annotate import main as annotate_main
    from jobs.refresh import main as refresh_main

    base_pdf = pages_pdf.iloc[:160]
    # re-fetches of 10 base urls with other pages' content, 20 new urls
    refetch = pages_pdf.iloc[160:170].assign(url=base_pdf["url"].iloc[150:].values)
    delta_pdf = pd.concat([refetch, pages_pdf.iloc[170:190]], ignore_index=True)
    gone = list(base_pdf["url"].iloc[:2])
    current_pdf = pd.concat(
        [base_pdf[~base_pdf["url"].isin(list(delta_pdf["url"]) + gone)], delta_pdf],
        ignore_index=True,
    )

    base_pages = _write_pages(spark, base_pdf, str(tmp_path / "base_pages"))
    delta_pages = _write_pages(spark, delta_pdf, str(tmp_path / "delta_pages"))
    now_pages = _write_pages(spark, current_pdf, str(tmp_path / "now_pages"))
    gone_path = str(tmp_path / "gone.parquet")
    pd.DataFrame({"url": gone}).to_parquet(gone_path, index=False)

    base, refreshed, scratch = (
        str(tmp_path / n) for n in ("base", "refreshed", "scratch")
    )
    annotate_main(["--pages", base_pages, "--stores", warehouse, "--out", base])
    refresh_main(["--base", base, "--pages", delta_pages, "--stores", warehouse,
                  "--out", refreshed, "--gone-urls", gone_path])
    annotate_main(["--pages", now_pages, "--stores", warehouse, "--out", scratch])

    got = _triples(refreshed, spark)
    assert got == _triples(scratch, spark)
    assert not {s for s, _, _ in got} & set(gone)
    # the delta changed the snapshot: refetched urls lost or gained rows
    assert got != _triples(base, spark)


def test_build_model_resolves_closure_on_driver(spark, stores, jobs_during):
    """Baking redirects and disambiguations into the model costs at
    most their two collects (every job counts, the collect pool's
    threads too), and the closure equals closure_dict of the edges."""
    sc = spark.sparkContext

    def marker() -> int:
        _, (jid,) = jobs_during(lambda: sc.parallelize([0], 1).count())
        return jid

    def jobs_of(fn):
        a = marker()
        out = fn()
        return out, marker() - a - 1

    red_pdf = fixtures.gen_redirects()
    red = spark.createDataFrame(red_pdf)
    dis = spark.createDataFrame(fixtures.gen_disambiguations())
    build_model(stores)  # materialize the lazily persisted stores
    _, plain = jobs_of(lambda: build_model(stores))
    model, baked = jobs_of(lambda: build_model(stores, red, dis))
    assert baked - plain <= 2, (plain, baked)
    assert model.canon_map == closure_dict(red_pdf.itertuples(index=False))
    assert model.canon_map
    assert model.disambig == frozenset(fixtures.gen_disambiguations()["uri"])
