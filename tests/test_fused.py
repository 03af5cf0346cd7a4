"""Fused map-only annotator ≡ stage-by-stage relational pipeline
(plans/annotate_fused.py vs plans/annotate.py) — annotation-set and
score-level agreement on the fixture corpus."""

from __future__ import annotations

import pytest

from dbpedia_spotlight_db_spark.plans.annotate import AnnotateConfig, annotate
from dbpedia_spotlight_db_spark.plans.annotate_fused import (
    annotate_fused,
    annotate_mention_pairs,
    build_model,
)


@pytest.fixture(scope="module")
def small_pages(spark, pages_df):
    return pages_df.limit(80).cache()


def _ann_map(df):
    return {
        (r.url, r.start, r.end, r.surface_form): (
            r.uri,
            round(r.score, 7),
            round(r.second_rank_ratio, 7),
        )
        for r in df.collect()
    }


def test_fused_equals_relational(spark, small_pages, stores):
    cfg = AnnotateConfig()
    fused = _ann_map(annotate_fused(spark, small_pages, stores, cfg))
    rel = _ann_map(annotate(spark, small_pages, stores, cfg))
    assert fused.keys() == rel.keys()
    for k, (uri_f, score_f, srr_f) in fused.items():
        uri_r, score_r, srr_r = rel[k]
        assert uri_f == uri_r, (k, uri_f, uri_r)
        assert score_f == pytest.approx(score_r, rel=1e-6, abs=1e-9)
        assert srr_f == pytest.approx(srr_r, rel=1e-6, abs=1e-9)


def test_window_infinite_equals_doc_context(spark, small_pages, stores):
    """T5: with W >= document length, the ±W mention window IS the
    whole document — all three context implementations (fused window,
    relational window twin, doc-context default) must agree."""
    doc_cfg = AnnotateConfig()
    win_cfg = AnnotateConfig(context_window=100_000)
    base = _ann_map(annotate_fused(spark, small_pages, stores, doc_cfg))
    fused_w = _ann_map(annotate_fused(spark, small_pages, stores, win_cfg))
    assert base == fused_w
    rel_w = _ann_map(annotate(spark, small_pages, stores, win_cfg))
    assert base.keys() == rel_w.keys()
    for k, (uri_f, score_f, srr_f) in base.items():
        uri_r, score_r, srr_r = rel_w[k]
        assert uri_f == uri_r, (k, uri_f, uri_r)
        assert score_f == pytest.approx(score_r, rel=1e-6, abs=1e-9)
        assert srr_f == pytest.approx(srr_r, rel=1e-6, abs=1e-9)


def test_small_window_fused_equals_relational(spark, small_pages, stores):
    """T5 with a tight window (W=3): fused per-mention slicing and the
    relational posexplode/range-join twin must produce identical
    annotations — and the window must actually change something vs
    whole-document context on this corpus."""
    cfg = AnnotateConfig(context_window=3)
    fused = _ann_map(annotate_fused(spark, small_pages, stores, cfg))
    rel = _ann_map(annotate(spark, small_pages, stores, cfg))
    assert fused.keys() == rel.keys()
    for k, (uri_f, score_f, srr_f) in fused.items():
        uri_r, score_r, srr_r = rel[k]
        assert uri_f == uri_r, (k, uri_f, uri_r)
        # relational vectors are stored float32 (store schema parity),
        # the fused pass computes float64 — small-window norms amplify
        # the quantization slightly vs the doc-context tests
        assert score_f == pytest.approx(score_r, rel=2e-5, abs=1e-8)
        assert srr_f == pytest.approx(srr_r, rel=2e-5, abs=1e-8)
    base = _ann_map(annotate_fused(spark, small_pages, stores, AnnotateConfig()))
    assert fused != base  # the window genuinely narrows the context


def test_fused_partition_independent(spark, small_pages, stores):
    cfg = AnnotateConfig()
    a = _ann_map(annotate_fused(spark, small_pages.repartition(1), stores, cfg))
    b = _ann_map(annotate_fused(spark, small_pages.repartition(13), stores, cfg))
    assert a == b


def test_fused_passes_are_map_only(spark, pages_df, stores):
    """Both public faces of the fused pass run with no Exchange between
    the pages scan and the Arrow map: the annotate pass is map-only."""
    model_bc = spark.sparkContext.broadcast(build_model(stores))
    cfg = AnnotateConfig()
    for fn in (annotate_fused, annotate_mention_pairs):
        df = fn(spark, pages_df, stores, cfg, model_bc)
        assert df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, (fn.__name__, plan)


def test_triples_fused_equals_relational(spark, small_pages, stores):
    """Full P1-P3: the zero-exchange fused shape (baked canon +
    in-pass mention dedup) emits the same triple SET as the relational
    join/distinct shape."""
    from dbpedia_spotlight_db_spark.entrypoint import (
        WORLD_DISAMBIG,
        WORLD_REDIRECTS,
        annotate_to_triples,
        world_model_bc,
    )
    from dbpedia_spotlight_db_spark.plans.materialize import (
        canonical_annotations,
        materialize_triples,
    )

    def tset(df):
        return {(r.subj, r.pred, r.obj) for r in df.collect()}

    fused = tset(
        annotate_to_triples(
            spark, small_pages.repartition(7), stores,
            world_model_bc(spark, stores),
        )
    )
    red = spark.createDataFrame(WORLD_REDIRECTS, ["src_uri", "dst_uri"])
    dis = spark.createDataFrame([(u,) for u in WORLD_DISAMBIG], ["uri"])
    canon = canonical_annotations(
        annotate(spark, small_pages, stores, AnnotateConfig()), red, dis
    )
    rel = tset(materialize_triples(canon, stores["entities"]))
    assert fused == rel and fused
