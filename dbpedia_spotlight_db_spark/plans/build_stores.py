"""P0 — build the statistical model stores as DataFrame aggregations
(SURVEY.md §1.3, §2.4 A1-A6).

The reference ingests pre-computed wikistats TSVs (uriCounts,
pairCounts, sfAndTotalCounts, tokenCounts — produced upstream by
Pig/Hadoop jobs) into memory-mapped stores. Here the SAME relations
are computed directly with salted, skew-aware groupBy aggregations
(north_star), and the stores are plain columnar tables:

    entities        c(e)              <- MemoryResourceStore
    surface_forms   c(s), n(s)        <- MemorySurfaceFormStore
    candidate_map   c(s,e), P(e|s)    <- MemoryCandidateMapStore
    tokens          c(t)              <- MemoryTokenTypeStore
    context_counts  c(t,e)            <- MemoryContextStore
    entity_vectors  TF*ICF sparse vecs (pre-normalized for scoring)

Interned integer ids (the reference's core storage trick) become
deterministic dense ids assigned once here; all downstream joins are
on longs, never strings.

Scale notes: every count is a two-phase salted aggregation; id
assignment is `xxhash64(key)` — per-row, partition-parallel, no
global-order window anywhere in P0 (see `_dense_ids`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..functions.text import tokenize
from ..operators.salted_agg import salted_count
from ..operators.spotting import spot_ngram_join

# The seven store tables a warehouse holds, each with the key the
# annotate pipeline joins it on. jobs/build_stores.py writes every
# table bucketed + sorted on its key (SURVEY.md §4.3), so the
# sort-merge-bucket fallback (stores beyond the broadcast budget)
# shuffles ONLY the probe side — tests/test_bucketed.py pins that the
# bucketed scan contributes no Exchange and no Sort.
STORE_BUCKET_KEYS = {
    "entities": "entity_id",        # J1/J5 canonical lookup
    "surface_forms": "sf_id",       # T3->J1 spot attach
    "candidate_map": "sf_id",       # J1 candidate lookup
    "tokens": "token_id",           # T2 vocabulary attach
    "context_counts": "entity_id",  # J3 context attach
    "entity_vectors": "entity_id",  # J3/C2 vector attach
    "icf": "token_id",              # A5 weight attach
}


def _dense_ids(df: DataFrame, key: str, id_col: str) -> DataFrame:
    """Deterministic 64-bit id per distinct key: xxhash64 of the key
    string — computed per-row, partition-parallel, ZERO shuffle. The
    previous global-order window (Window.orderBy with no partition)
    funneled every distinct key through ONE task; at a web-scale
    vocabulary that single sort is the P0 bottleneck. Ids are join
    keys only, never ordinals, so hash ids are a drop-in; collision
    odds for k keys are ~k^2/2^65 (≈3e-4 at 100M keys), and the
    stores are built once offline where a collision check
    (count distinct id vs key) is one cheap agg."""
    return df.withColumn(id_col, F.xxhash64(F.col(key)))


def build_stores(
    spark: SparkSession,
    wiki_corpus: DataFrame,
    instance_types: DataFrame | None = None,
    salt_n: int = 32,
    max_sf_tokens: int | None = None,
    checkpoint: bool = False,
) -> dict[str, DataFrame]:
    """wiki_corpus(doc_id, text, links[, tokens]) -> the six store
    tables. Cache ownership: the returned store tables (and their
    intermediates) stay persisted for the session — P0 runs once per
    model build and everything downstream reuses them; a
    memory-constrained caller building several store sets should
    spark.catalog.clearCache() between builds.

    ``checkpoint=True`` is the CORPUS-SCALE regime (jobs/build_stores
    and the stores scaling leg pass it): the two corpus-proportional
    intermediates — the exploded occurrence relation and a
    freshly-tokenized corpus — go through parquet_checkpoint instead
    of .persist(). At multi-M rows the deserialized cache is a GC
    storm (CLAUDE.md lesson; measured on the 1.2M-doc stores leg:
    21 s GC, 32-core busy 0.78, superlinear wall), while the tmpfs
    parquet round trip stays linear. The default keeps .persist():
    the fixture-scale model build is latency-bound and benefits from
    lazy plans overlapping its thread-pooled collects (a checkpoint
    is an EAGER action and would serialize them)."""
    occ = wiki_corpus.select(
        "doc_id", F.explode("links").alias("l")
    ).select(
        # normalize anchors to the spotters' casing (every spotter —
        # n-gram join and AC — matches on lowercased token sequences;
        # a cased anchor would otherwise be unspottable and its
        # total_count join would silently miss, pinning
        # annotation_prob at 1.0)
        "doc_id",
        F.lower("l.surface_form").alias("surface_form"),
        F.col("l.uri"),
    )
    if checkpoint:
        from ..operators.dedup import parquet_checkpoint

        occ = parquet_checkpoint(occ, "p0_occ")
    else:
        occ = occ.persist()

    # --- A1: uri counts -> entities -------------------------------------
    uri_counts = salted_count(occ, ["uri"], out="support", salt_n=salt_n)
    entities = _dense_ids(uri_counts, "uri", "entity_id")
    if instance_types is not None:
        types = instance_types.groupBy("uri").agg(
            F.array_sort(F.collect_set("type")).alias("types")
        )
        entities = entities.join(types, "uri", "left").withColumn(
            "types", F.coalesce("types", F.array().cast("array<string>"))
        )
    else:
        entities = entities.withColumn(
            "types", F.array().cast("array<string>")
        )
    entities = entities.select(
        "entity_id", "uri", "support", "types"
    ).persist()

    # --- A3: surface form counts (annotated + total) --------------------
    annotated = salted_count(
        occ, ["surface_form"], out="annotated_count", salt_n=salt_n
    )
    # dictionary-known max n-gram length short-circuits a blocking
    # driver action (callers whose dictionary is a literal — the
    # flagship world — pass it; data-derived corpora fall through)
    if max_sf_tokens is not None:
        max_len = max_sf_tokens
    else:
        max_len = (
            annotated.select(
                F.max(F.size(F.split("surface_form", " "))).alias("m")
            ).collect()[0]["m"]
        )
    # reuse the corpus's token arrays when the source carries them
    # (derive_corpus tokenizes once and ships tokens along); fall back
    # to tokenizing here for plain (doc_id, text, links) corpora.
    # The reuse branch does not re-persist an already-cached corpus
    # (that would duplicate the largest column in memory) — but an
    # UNcached tokens-carrying corpus must be persisted here, else the
    # two downstream consumers would each re-run the corpus lineage.
    if "tokens" in wiki_corpus.columns:
        tokenized = wiki_corpus.select(
            F.col("doc_id").cast("string").alias("url"), "tokens"
        )
        from pyspark import StorageLevel

        if wiki_corpus.storageLevel == StorageLevel.NONE:
            if checkpoint:
                from ..operators.dedup import parquet_checkpoint

                tokenized = parquet_checkpoint(tokenized, "p0_tokenized")
            else:
                tokenized = tokenized.persist()
    else:
        tokenized = wiki_corpus.select(
            F.col("doc_id").cast("string").alias("url"),
            tokenize(F.col("text")).alias("tokens"),
        )
        if checkpoint:
            from ..operators.dedup import parquet_checkpoint

            tokenized = parquet_checkpoint(tokenized, "p0_tokenized")
        else:
            tokenized = tokenized.persist()
    all_spots = spot_ngram_join(
        tokenized, annotated.select("surface_form"), max_len
    )
    total = salted_count(
        all_spots, ["surface_form"], out="total_count", salt_n=salt_n
    )
    surface_forms = (
        annotated.join(total, "surface_form", "left")
        .withColumn(
            "total_count",
            F.greatest(F.coalesce("total_count", F.lit(0)), F.col("annotated_count")),
        )
        .withColumn(
            "annotation_prob",
            F.col("annotated_count") / F.col("total_count"),
        )
    )
    surface_forms = _dense_ids(surface_forms, "surface_form", "sf_id").select(
        "sf_id", "surface_form", "annotated_count", "total_count", "annotation_prob"
    ).persist()

    # --- A2: pair counts -> candidate_map with P(e|s) -------------------
    pair = salted_count(
        occ, ["surface_form", "uri"], out="pair_count", salt_n=salt_n
    )
    w_sf = Window.partitionBy("surface_form")
    candidate_map = (
        pair.withColumn(
            "p_e_given_s",
            F.col("pair_count") / F.sum("pair_count").over(w_sf),
        )
        .join(F.broadcast(surface_forms.select("sf_id", "surface_form")), "surface_form")
        .join(F.broadcast(entities.select("entity_id", "uri")), "uri")
        .select("sf_id", "entity_id", "pair_count", "p_e_given_s")
    ).persist()

    # --- A4: token vocabulary + per-entity context counts ---------------
    # The context/vocabulary analysis chain (T2): stopwords excluded,
    # stems as vocabulary keys — the reference's SnowballStemmer +
    # stopword-file config applied to context scoring. Surface-form
    # spotting above keeps matching raw lowercased token text.
    doc_tokens = (
        tokenized.select(
            F.col("url").cast("long").alias("doc_id"),
            F.explode("tokens").alias("t"),
        )
        .filter(~F.col("t.is_stop"))
        .select("doc_id", F.col("t.stem").alias("token"))
    )
    token_counts = salted_count(doc_tokens, ["token"], out="count", salt_n=salt_n)
    tokens = _dense_ids(token_counts, "token", "token_id").select(
        "token_id", "token", "count"
    ).persist()

    doc_uris = occ.select("doc_id", "uri").distinct()
    ctx = (
        doc_tokens.join(doc_uris, "doc_id")  # co-partitioned on doc_id
        .groupBy("uri", "token")
        .count()
        .join(F.broadcast(entities.select("entity_id", "uri")), "uri")
        .join(F.broadcast(tokens.select("token_id", "token")), "token")
        .select("entity_id", "token_id", F.col("count").cast("long").alias("count"))
    ).persist()

    # --- A5/A6: ICF weights + pre-normalized sparse entity vectors ------
    # |E| attaches as a lazy broadcast 1-row aggregate, not a driver
    # count(): the ICF chain stays a single deferred plan, so the
    # model build's concurrent collects overlap the whole P0 lineage
    # instead of serializing behind an eager action here
    n_ent = entities.agg(
        F.count(F.lit(1)).cast("double").alias("_n_entities")
    )
    icf = (
        ctx.groupBy("token_id")
        .agg(F.countDistinct("entity_id").alias("df_e"))
        .crossJoin(F.broadcast(n_ent))
        .withColumn("icf", F.log(F.col("_n_entities") / F.col("df_e")))
        .drop("_n_entities")
    )
    weighted = ctx.join(icf.select("token_id", "icf"), "token_id").withColumn(
        "weight", F.col("count") * F.col("icf")
    )
    entity_vectors = (
        weighted.groupBy("entity_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("token_id", "weight"))
            ).alias("tw")
        )
        .select(
            "entity_id",
            F.expr("transform(tw, x -> cast(x.token_id as bigint))").alias("token_ids"),
            F.expr("transform(tw, x -> cast(x.weight as float))").alias("weights"),
            F.expr(
                "cast(sqrt(aggregate(tw, 0.0d, (acc, x) -> acc + x.weight * x.weight)) as float)"
            ).alias("norm"),
        )
    ).persist()

    return {
        "entities": entities,
        "surface_forms": surface_forms,
        "candidate_map": candidate_map,
        "tokens": tokens,
        "context_counts": ctx,
        "entity_vectors": entity_vectors,
        "icf": icf,
        "max_sf_tokens": max_len,
    }
