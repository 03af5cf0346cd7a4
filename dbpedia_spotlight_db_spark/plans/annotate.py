"""P1 — the annotation pipeline (reference lifecycle E1 `/annotate`,
SURVEY.md §3): pages -> extract -> tokenize -> spot -> disambiguate.

Stage order preserves the reference's pruning discipline: the
annotation-probability threshold (T4) and overlap resolution run
BEFORE any join; candidate pruning by prior (two-step) runs before
context scoring.

This is the pure-DataFrame reference: n-gram-join spotting and
join+sum cosine scoring, checkable as engine SQL. The production pass
is the fused map-only annotator (``plans/annotate_fused.py``); tests
and the benchmark gate compare the two.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.text import extract_text, tokenize
from ..operators import scoring
from ..operators.spotting import (
    filter_by_annotation_prob,
    resolve_overlaps_greedy,
    spot_ngram_join,
)


@dataclass
class AnnotateConfig:
    spotter_threshold: float = 0.25   # reference: spotterThresholdProbability
    confidence: float = 0.0           # reference: /annotate confidence param
    top_m_prior: int = 20             # two-step prune width
    w_prior: float = 0.3
    w_ctx: float = 0.7
    langs: tuple[str, ...] = ("en", "fr", "es", "de", "zh")
    # T5: None = whole-document context (reference default for
    # single-paragraph texts); W = score against ±W tokens around the
    # mention (material on long multi-topic pages)
    context_window: int | None = None


def extract_and_tokenize(pages: DataFrame, cfg: AnnotateConfig) -> DataFrame:
    """T1 lang routing + S6 extraction + T2 tokenization. `text` is
    recomputed from html through the byte-identical extractor (the
    invariant test asserts extract == pages.text)."""
    routed = pages.filter(F.col("lang").isin(*cfg.langs))
    extracted = routed.withColumn("etext", extract_text(F.col("html")))
    return extracted.select(
        "url", "lang", "etext", tokenize(F.col("etext")).alias("tokens")
    )


def spot(tokenized: DataFrame, stores: dict, cfg: AnnotateConfig) -> DataFrame:
    """T3 spotting + T4 threshold & overlap resolution -> mentions with
    sf_id attached."""
    sf = stores["surface_forms"]
    raw = spot_ngram_join(tokenized, sf, stores["max_sf_tokens"])
    with_sf = filter_by_annotation_prob(raw, sf, cfg.spotter_threshold)
    return resolve_overlaps_greedy(
        with_sf.select(
            "url", "start", "end", "surface_form", "sf_id", "annotation_prob"
        )
    )


def disambiguate(
    mentions: DataFrame,
    tokenized: DataFrame,
    stores: dict,
    cfg: AnnotateConfig,
) -> DataFrame:
    """J1/J2/J3 + C1-C4 + A7 -> annotations."""
    total_support = (
        stores["entities"].agg(F.sum("support").alias("n")).collect()[0]["n"]
    )
    m = scoring.with_mention_id(mentions)
    cands = scoring.attach_candidates(
        m, stores["candidate_map"], stores["entities"]
    )
    cands = scoring.prior_scores(cands, total_support)
    cands = scoring.prune_top_m_by_prior(cands, cfg.top_m_prior)

    if cfg.context_window is None:
        ctx, ctx_key = (
            scoring.doc_context_vectors(
                tokenized, stores["tokens"], stores["icf"]
            ),
            "url",
        )
    else:
        ctx, ctx_key = (
            scoring.mention_context_vectors(
                m, tokenized, stores["tokens"], stores["icf"],
                cfg.context_window,
            ),
            "mention_id",
        )
    scored = scoring.context_scores_relational(
        cands,
        ctx,
        stores["context_counts"],
        stores["icf"],
        stores["entity_vectors"],
        ctx_key=ctx_key,
    )
    scored = scoring.combine_scores(scored, cfg.w_prior, cfg.w_ctx)
    best = scoring.best_k(scored, k=1)
    best = scoring.confidence_filter(best, cfg.confidence)
    return best.select(
        "url",
        "start",
        "end",
        "surface_form",
        "uri",
        F.col("score").cast("double").alias("score"),
        F.col("second_rank_ratio").cast("double").alias("second_rank_ratio"),
    )


def annotate(
    spark: SparkSession,
    pages: DataFrame,
    stores: dict,
    cfg: AnnotateConfig | None = None,
) -> DataFrame:
    cfg = cfg or AnnotateConfig()
    tokenized = extract_and_tokenize(pages, cfg)
    tokenized.persist()
    mentions = spot(tokenized, stores, cfg)
    return disambiguate(mentions, tokenized, stores, cfg)
