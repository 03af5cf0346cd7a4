"""Candidate generation + generative scoring (SURVEY.md §2.3 J1-J3,
§2.5 C1-C4; reference loci DBCandidateSearcher / DBTwoStepDisambiguator
/ GenerativeContextSimilarity — canonical upstream paths in SURVEY.md,
UNVERIFIED-LOCALLY).

Model ([Daiber13]):
    score(e | s, ctx) = w_p * (log P(e) + log P(s|e)) + w_c * cos(ctx, e)
    P(e)   = c(e) / N
    P(s|e) = c(s,e) / c(e)
    cos    = TF*ICF cosine between the mention's document context
             vector and the entity's context vector

Two-step disambiguation is preserved: candidates are pruned to the
top-M by prior (cheap column math) BEFORE the context scoring (the
expensive stage) — the reference's key latency trick, and at cluster
scale it cuts the context-join fan-out by ~10x.

Context scoring here is ``context_scores_relational``: sparse dot as
join+sum — pure DataFrame, SQL-oracle checkable, bucket-joinable at
web scale. The fused annotator (``plans/annotate_fused.py``) computes
the same cosine in NumPy inside its map pass; tests compare the two.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window


def with_mention_id(mentions: DataFrame) -> DataFrame:
    """Deterministic mention key (url, start, end are unique post
    overlap-resolution)."""
    return mentions.withColumn(
        "mention_id", F.xxhash64("url", "start", "end")
    )


def attach_candidates(
    mentions_sf: DataFrame,
    candidate_map: DataFrame,
    entities: DataFrame,
    broadcast: bool = True,
) -> DataFrame:
    """J1+J2: mention -> candidate entities with pair counts and
    priors. Default: both store tables are broadcast (size-known
    small vs the page corpus; at web scale candidate_map stays
    broadcastable after minCount pruning — the reference quantizes/
    prunes similarly).

    ``broadcast=False`` is the sort-merge-bucket fallback for stores
    beyond the broadcast budget: pass store tables registered via
    ``catalog.save_bucketed`` (bucketed+sorted on sf_id / entity_id)
    and the SMB join shuffles ONLY the mentions side — the store side
    has no Exchange and no Sort (tests/test_bucketed.py asserts the
    plan)."""
    cm = F.broadcast(candidate_map) if broadcast else candidate_map
    ent = entities.select("entity_id", "uri", "support")
    if broadcast:
        ent = F.broadcast(ent)
    return mentions_sf.join(cm, "sf_id", "inner").join(
        ent, "entity_id", "inner"
    )


def prior_scores(cands: DataFrame, total_support: float) -> DataFrame:
    """C1: log P(e) + log P(s|e), pure column math (codegen'd)."""
    return cands.withColumn(
        "prior_score",
        F.log(F.col("support") / F.lit(float(total_support)))
        + F.log(F.col("pair_count") / F.col("support")),
    )


def prune_top_m_by_prior(cands: DataFrame, m: int) -> DataFrame:
    """Step 1 of two-step disambiguation: keep top-M candidates per
    mention by prior. Deterministic tie-break on uri."""
    w = Window.partitionBy("mention_id").orderBy(
        F.desc("prior_score"), F.asc("uri")
    )
    return (
        cands.withColumn("_rm", F.row_number().over(w))
        .filter(F.col("_rm") <= m)
        .drop("_rm")
    )


# ---------------------------------------------------------------------------
# Document context vectors
# ---------------------------------------------------------------------------
def doc_context_vectors(
    tokenized: DataFrame, tokens: DataFrame, icf: DataFrame
) -> DataFrame:
    """url -> sorted sparse TF*ICF vector of the document's tokens.
    (The reference scores against the mention's paragraph; documents
    are single paragraphs in this corpus model.)"""
    tf = (
        tokenized.select(
            "url", F.explode("tokens").alias("t")
        )
        # same T2 analysis chain as the store build: drop stopwords,
        # look the stem up in the (stem-keyed) vocabulary
        .filter(~F.col("t.is_stop"))
        .select("url", F.col("t.stem").alias("token"))
        .join(F.broadcast(tokens.select("token_id", "token")), "token")
        .groupBy("url", "token_id")
        .agg(F.count(F.lit(1)).alias("tf"))
        .join(F.broadcast(icf.select("token_id", "icf")), "token_id")
        .withColumn("w", F.col("tf") * F.col("icf"))
    )
    return tf.groupBy("url").agg(
        F.array_sort(F.collect_list(F.struct("token_id", "w"))).alias("tw")
    ).select(
        "url",
        F.expr("transform(tw, x -> cast(x.token_id as bigint))").alias("ctx_token_ids"),
        F.expr("transform(tw, x -> cast(x.w as float))").alias("ctx_weights"),
        F.expr(
            "cast(sqrt(aggregate(tw, 0.0d, (acc, x) -> acc + x.w * x.w)) as float)"
        ).alias("ctx_norm"),
    )


def mention_context_vectors(
    mentions: DataFrame,
    tokenized: DataFrame,
    tokens: DataFrame,
    icf: DataFrame,
    window: int,
) -> DataFrame:
    """T5 (window form): ±``window``-token context per mention
    (reference: DBTwoStepDisambiguator scores against the mention's
    surrounding tokens, not the whole page — material on long
    multi-topic documents). The mention's token span is recovered by
    joining its char offsets back to the indexed token stream; context
    tokens are the T2 analysis chain (stop-filtered stems) within the
    window. Output mirrors ``doc_context_vectors`` keyed by
    mention_id. Relational twin of the fused per-mention window; the
    scale path is the fused annotator (no shuffle)."""
    tok_idx = tokenized.select(
        "url", F.posexplode("tokens").alias("pos", "t")
    )
    m = mentions.select("mention_id", "url", "start", "end")
    span = (
        m.join(tok_idx, "url")
        .filter(
            (F.col("t.start") >= F.col("start"))
            & (F.col("t.start") < F.col("end"))
        )
        .groupBy("mention_id", "url")
        .agg(F.min("pos").alias("pos_lo"), F.max("pos").alias("pos_hi"))
    )
    tf = (
        span.join(tok_idx, "url")
        .filter(
            (F.col("pos") >= F.col("pos_lo") - window)
            & (F.col("pos") <= F.col("pos_hi") + window)
        )
        .filter(~F.col("t.is_stop"))
        .select("mention_id", F.col("t.stem").alias("token"))
        .join(F.broadcast(tokens.select("token_id", "token")), "token")
        .groupBy("mention_id", "token_id")
        .agg(F.count(F.lit(1)).alias("tf"))
        .join(F.broadcast(icf.select("token_id", "icf")), "token_id")
        .withColumn("w", F.col("tf") * F.col("icf"))
    )
    return tf.groupBy("mention_id").agg(
        F.array_sort(F.collect_list(F.struct("token_id", "w"))).alias("tw")
    ).select(
        "mention_id",
        F.expr("transform(tw, x -> cast(x.token_id as bigint))").alias("ctx_token_ids"),
        F.expr("transform(tw, x -> cast(x.w as float))").alias("ctx_weights"),
        F.expr(
            "cast(sqrt(aggregate(tw, 0.0d, (acc, x) -> acc + x.w * x.w)) as float)"
        ).alias("ctx_norm"),
    )


def context_scores_relational(
    cands: DataFrame,
    doc_ctx: DataFrame,
    context_counts: DataFrame,
    icf: DataFrame,
    entity_vectors: DataFrame,
    ctx_key: str = "url",
) -> DataFrame:
    """C2 (relational): cosine as explode + equi-join + sum.

    ``ctx_key``: "url" with whole-document vectors
    (``doc_context_vectors``) or "mention_id" with per-mention window
    vectors (``mention_context_vectors``) — T5's two context models.

    Scale shape: (mention x doc-token) rows join (entity, token)
    weights on (entity_id, token_id) — bucket both sides on token_id
    at web scale. The candidate prune (top-M) runs before this."""
    mention_tokens = (
        cands.select("mention_id", "entity_id", "url")
        .join(doc_ctx, ctx_key)
        .select(
            "mention_id",
            "entity_id",
            "ctx_norm",
            F.explode(F.arrays_zip("ctx_token_ids", "ctx_weights")).alias("z"),
        )
        .select(
            "mention_id",
            "entity_id",
            "ctx_norm",
            F.col("z.ctx_token_ids").cast("long").alias("token_id"),
            F.col("z.ctx_weights").alias("w_m"),
        )
    )
    ew = context_counts.join(
        F.broadcast(icf.select("token_id", "icf")), "token_id"
    ).select(
        "entity_id", "token_id", (F.col("count") * F.col("icf")).alias("w_e")
    )
    dots = (
        mention_tokens.join(ew, ["entity_id", "token_id"], "inner")
        .groupBy("mention_id", "entity_id")
        .agg(
            F.sum(F.col("w_m") * F.col("w_e")).alias("dot"),
            F.first("ctx_norm").alias("ctx_norm"),
        )
        .join(F.broadcast(entity_vectors.select("entity_id", "norm")), "entity_id")
        .withColumn(
            # zero norms (e.g. every context token has icf 0) score 0,
            # matching the fused kernel's guard — and ANSI mode forbids
            # a bare divide-by-zero
            "ctx_score",
            F.when(
                (F.col("ctx_norm") > 0) & (F.col("norm") > 0),
                F.col("dot") / (F.col("ctx_norm") * F.col("norm")),
            ).otherwise(F.lit(0.0)),
        )
        .select("mention_id", "entity_id", "ctx_score")
    )
    return cands.join(
        dots, ["mention_id", "entity_id"], "left"
    ).withColumn("ctx_score", F.coalesce("ctx_score", F.lit(0.0)))


def combine_scores(
    scored: DataFrame, w_prior: float = 0.3, w_ctx: float = 0.7
) -> DataFrame:
    """C3: mixture. Priors are log-scale (negative) — normalized per
    mention to [0,1] via softmax-free min-max inside the window would
    cost a shuffle; instead use the standard monotone mixture on
    z = exp(prior_score) (= P(e)P(s|e), already in [0,1])."""
    return scored.withColumn(
        "score",
        F.lit(w_prior) * F.exp(F.col("prior_score"))
        + F.lit(w_ctx) * F.col("ctx_score"),
    )


def best_k(scored: DataFrame, k: int = 1) -> DataFrame:
    """A7: per-mention argmax with second-rank confidence. Window
    top-k per group — no global sort. Deterministic tie-break (uri)."""
    w = Window.partitionBy("mention_id").orderBy(F.desc("score"), F.asc("uri"))
    ranked = scored.withColumn("_rank", F.row_number().over(w)).withColumn(
        "_next", F.lead("score").over(w)
    )
    return (
        ranked.filter(F.col("_rank") <= k)
        .withColumn(
            "second_rank_ratio",
            F.when(
                F.col("_next").isNotNull() & (F.col("score") > 0),
                F.col("_next") / F.col("score"),
            ).otherwise(F.lit(0.0)),
        )
        .drop("_next")
        .withColumnRenamed("_rank", "rank")
    )


def confidence_filter(best: DataFrame, confidence: float) -> DataFrame:
    """C4: keep annotations whose winner is sufficiently ahead of the
    runner-up (reference: percentileOfSecondRank filter)."""
    return best.filter(
        (F.lit(1.0) - F.col("second_rank_ratio")) >= confidence
    )
