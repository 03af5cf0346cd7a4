"""Flagship end-to-end run (driver contract ``entry(spark)``).

Builds the whole engine over the driver's ``documents`` table, with a
deterministic "linking world" (surface-form dictionary + ambiguous
candidates + redirects + disambiguation pages) synthesized from the
documents vocabulary — no external data, fully reproducible:

    P0: derive an annotated corpus (links assigned by deterministic
        weighted hash) -> build all six count stores (salted aggs)
    P1: wrap documents as pages(url, warc_ts, html, text, lang) ->
        extract (byte-identical) -> tokenize -> spot -> disambiguate
    P2: canonicalize through the redirect closure
    P3: materialize (subj, pred, obj) triples

Returns the triples DataFrame (driver collects).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .functions.text import tokenize
from .operators.spotting import spot_ngram_join
from .plans.annotate import AnnotateConfig
from .plans.build_stores import STORE_BUCKET_KEYS, build_stores

# Deterministic linking world over the documents vocabulary.
# (sf, uri, weight) — ambiguous sfs have several candidates.
WORLD: list[tuple[str, str, int]] = [
    ("spark", "dbr:Apache_Spark", 8),
    ("spark", "dbr:Spark_plug", 2),
    ("merge", "dbr:Merge_sort", 5),
    ("merge", "dbr:Git_merge", 3),
    ("window", "dbr:Window_function", 6),
    ("window", "dbr:Window_(computing)", 2),
    ("vector", "dbr:Vector_(data)", 5),
    ("vector", "dbr:Vector_graphics", 3),
    ("hash", "dbr:Hash_function", 6),
    ("batch", "dbr:Batch_processing", 6),
    ("stream", "dbr:Stream_processing", 5),
    ("stream", "dbr:Stream_(river)", 1),
    ("query", "dbr:Query_language", 6),
    ("table", "dbr:Table_(database)", 7),
    ("column", "dbr:Column_(database)", 6),
    ("row", "dbr:Row_(database)", 6),
    ("customer", "dbr:Customer", 5),
    ("hash join", "dbr:Hash_join", 9),
    ("table scan", "dbr:Full_table_scan", 7),
    ("sort merge", "dbr:Sort-merge_join", 5),
    ("merge join", "dbr:Sort-merge_join", 5),
    ("data line", "dbr:Data_line", 3),
    ("key order", "dbr:Key_order", 2),
    ("group query", "dbr:Group_query", 2),
]
WORLD_REDIRECTS: list[tuple[str, str]] = [
    ("dbr:Git_merge", "dbr:Merge_(version_control)"),
    ("dbr:Spark_plug", "dbr:Ignition_part"),
    ("dbr:Stream_(river)", "dbr:River"),
]
WORLD_DISAMBIG: list[str] = ["dbr:Window_(computing)"]
WORLD_TYPES: list[tuple[str, str]] = [
    ("dbr:Apache_Spark", "dbo:Software"),
    ("dbr:Hash_join", "dbo:Algorithm"),
    ("dbr:Sort-merge_join", "dbo:Algorithm"),
    ("dbr:Merge_sort", "dbo:Algorithm"),
    ("dbr:Table_(database)", "dbo:Concept"),
]

HTML_PRE = "<html><head><title>t</title></head><body>"
HTML_POST = "</body></html>"


def documents_as_pages(docs: DataFrame) -> DataFrame:
    """documents -> pages in the BASELINE.json input_hint shape; html
    is the reversible wrapper (FIXTURES.md §1.1), built JVM-side."""
    esc = F.col("text")
    for raw, enc in [("&", "&amp;"), ("<", "&lt;"), (">", "&gt;")]:
        esc = F.replace(esc, F.lit(raw), F.lit(enc))
    return docs.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        F.lit("2026-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        F.encode(F.concat(F.lit(HTML_PRE), esc, F.lit(HTML_POST)), "utf-8").alias(
            "html"
        ),
        F.col("text"),
        F.col("lang"),
    )


def derive_corpus(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """Deterministic annotated corpus: spot the WORLD dictionary over
    documents, assign each occurrence a candidate uri by weighted
    deterministic hash, keep ~60% as links."""
    world = spark.createDataFrame(WORLD, ["surface_form", "uri", "w"])
    # cumulative weight ranges computed DRIVER-SIDE: WORLD is a code
    # literal, so two Window passes over a broadcast-bound 24-row
    # DataFrame would be pure scheduling latency
    by_sf: dict[str, list[tuple[str, int]]] = {}
    for sf, uri, w in WORLD:
        by_sf.setdefault(sf, []).append((uri, w))
    cum_rows = []
    for sf, lst in by_sf.items():
        lst.sort()  # uri asc — same order the Window form used
        tot = sum(w for _, w in lst)
        lo = 0
        for uri, w in lst:
            cum_rows.append((sf, uri, w, lo + w, lo, tot))
            lo += w
    cum = spark.createDataFrame(
        cum_rows, ["surface_form", "uri", "w", "hi", "lo", "tot"]
    )
    # tokenize ONCE: the token arrays ride along on the corpus output
    # so build_stores doesn't re-run the (Python) tokenizer over the
    # same text — P0 touches each document's tokens a single time.
    # Repartition FIRST: the docs table is a single parquet file, so
    # without it the (Python) tokenize pass runs as ONE serial task —
    # a 600 KB shuffle buys a 32-way-parallel Arrow pass.
    tokenized = (
        docs.repartition(spark.sparkContext.defaultParallelism)
        .select(
            F.col("doc_id").cast("string").alias("url"),
            tokenize("text").alias("tokens"),
        )
        .persist()
    )
    mentions = spot_ngram_join(
        tokenized, world.select("surface_form").distinct(), max_len=2
    )
    # deterministic weighted candidate assignment + 60% link sampling
    m = mentions.withColumn(
        "h", F.pmod(F.xxhash64("url", "start", "surface_form"), F.lit(1000))
    ).withColumn("keep", F.pmod(F.xxhash64("url", "start", F.lit("l")), F.lit(10)) < 6)
    linked = (
        m.filter("keep")
        .join(F.broadcast(cum), "surface_form")
        .filter(
            (F.pmod(F.col("h"), F.col("tot")) >= F.col("lo"))
            & (F.pmod(F.col("h"), F.col("tot")) < F.col("hi"))
        )
        .select(
            F.col("url").cast("long").alias("doc_id"),
            F.struct(
                F.col("start").cast("int").alias("start"),
                F.col("end").cast("int").alias("end"),
                F.col("surface_form"),
                F.col("uri"),
            ).alias("link"),
        )
    )
    links = linked.groupBy("doc_id").agg(F.collect_list("link").alias("links"))
    corpus = (
        docs.select("doc_id", "text")
        .join(links, "doc_id", "left")
        .join(
            tokenized.select(
                F.col("url").cast("long").alias("doc_id"), "tokens"
            ),
            "doc_id",
        )
        .withColumn(
            "links",
            F.coalesce(
                "links",
                F.array().cast(
                    "array<struct<start:int,end:int,surface_form:string,uri:string>>"
                ),
            ),
        )
    )
    # own the cache lifecycle: materialize the corpus (its cache now
    # carries the token arrays), then drop the interim tokenized cache
    # — otherwise the largest column sits in memory twice for the rest
    # of the session
    corpus = corpus.persist()
    corpus.count()
    tokenized.unpersist()
    return corpus


def world_stores(spark: SparkSession, docs: DataFrame) -> dict:
    """P0: deterministic annotated corpus -> the six count stores."""
    corpus = derive_corpus(spark, docs)  # persisted+materialized inside
    types_df = spark.createDataFrame(WORLD_TYPES, ["uri", "type"])
    # max surface-form token length is known from the WORLD literal —
    # passing it skips build_stores' data-derived max_len action
    max_sf = max(len(sf.split(" ")) for sf, _, _ in WORLD)
    return build_stores(
        spark, corpus, instance_types=types_df, max_sf_tokens=max_sf
    )


def replicate_docs(docs: DataFrame, r: int) -> DataFrame:
    """Deterministic r-fold corpus blow-up with unique doc_ids (bench
    scaling legs run the same job over the same replicated input at
    two parallelism levels)."""
    if r <= 1:
        return docs
    return (
        docs.withColumn("_rep", F.explode(F.sequence(F.lit(0), F.lit(r - 1))))
        .withColumn("doc_id", F.col("doc_id") * r + F.col("_rep"))
        .drop("_rep")
    )


def annotate_to_triples(
    spark: SparkSession,
    pages: DataFrame,
    stores: dict,
    model_bc,
    checkpoint_path: str | None = None,
    run_key: str | None = None,
) -> DataFrame:
    """P1-P3 over an already-built store set (the 10^12-doc-scale part
    of the pipeline; store build is the fixed-size offline model
    build, like the reference's wikistats ingestion).

    The map-only broadcast-model annotator with P2 canonicalization
    baked into the broadcast model (plans/annotate_fused.py). The pair
    emitter dedups (url, uri) inside the map pass; url is the pages
    primary key, so the pairs are globally distinct and the triple
    pipeline has no wide exchange. ``model_bc``: the broadcast model
    of ``stores`` (``load_model``)."""
    from .plans.annotate_fused import annotate_mention_pairs
    from .plans.materialize import materialize_triples_from_mention_pairs

    pairs = annotate_mention_pairs(
        spark, pages, stores, AnnotateConfig(), model_bc
    )
    return materialize_triples_from_mention_pairs(
        pairs, stores["entities"], checkpoint_path, run_key=run_key
    )


def world_model_bc(spark: SparkSession, stores: dict):
    """Broadcast LinkingModel with the WORLD closure/disambig baked in.

    The redirect set is a code literal, so it goes to ``closure_dict``
    directly instead of through a DataFrame."""
    from .operators.closure import closure_dict
    from .plans.annotate_fused import build_model

    model = build_model(stores)
    model.canon_map = closure_dict(WORLD_REDIRECTS)
    model.disambig = frozenset(WORLD_DISAMBIG)
    return spark.sparkContext.broadcast(model)


def _world_docs(spark: SparkSession, spec: str) -> DataFrame:
    return spark.read.parquet(f"{spec.split(':', 1)[1]}/documents.parquet")


def load_model(spark: SparkSession, spec: str) -> tuple[dict, object]:
    """The model loader every job calls: (stores, broadcast model).
    ``world:<sf_dir>`` is the fixture world (``world_model_bc``); any
    other ``spec`` is a warehouse root from jobs/build_stores.py, whose
    ``redirects``/``disambiguations`` tables, where present, go into
    ``build_model``."""
    from .plans.annotate_fused import build_model
    from .sources import catalog

    if spec.startswith("world:"):
        stores = world_stores(spark, _world_docs(spark, spec))
        return stores, world_model_bc(spark, stores)
    stores = {name: catalog.load(spark, name, spec) for name in STORE_BUCKET_KEYS}
    redirects, disambiguations = (
        catalog.load(spark, name, spec) if catalog.exists(spec, name) else None
        for name in ("redirects", "disambiguations")
    )
    model = build_model(stores, redirects, disambiguations)
    return stores, spark.sparkContext.broadcast(model)


def load_pages(spark: SparkSession, spec: str) -> DataFrame:
    """``world:<sf_dir>`` wraps the fixture's documents; any other
    ``spec`` is a parquet pages path."""
    if spec.startswith("world:"):
        return documents_as_pages(_world_docs(spark, spec))
    return spark.read.parquet(spec)


def flagship(spark: SparkSession, sf_dir: str, replicate: int = 1) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    stores = world_stores(spark, docs)
    # explicit round-robin repartition of the narrow doc rows BEFORE
    # replication and html wrapping: the single-file source would
    # otherwise explode serially in one task, and hash(doc_id) over
    # few distinct keys would leave partition skew. 4x parallelism is
    # the scaling-leg shape (partitions >= 4x cores per the BASELINE
    # protocol); the unreplicated fixture run keeps 1x — at ~5k docs
    # the extra 96 Arrow tasks are pure per-task Python latency
    par = spark.sparkContext.defaultParallelism
    npart = par * 4 if replicate > 1 else par
    pages = documents_as_pages(
        replicate_docs(docs.repartition(npart), replicate)
    )
    return annotate_to_triples(
        spark, pages, stores, world_model_bc(spark, stores)
    )
