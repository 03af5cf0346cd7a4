"""P2+P3 — canonicalize annotations and materialize (subj, pred, obj)
triples (SURVEY.md §3.2; north_rule output contract).

Triple shape (FIXTURES.md §5):
    (url,            dbo:mentions, canonical_entity_uri)
    (canonical_uri,  rdf:type,     t)   for typed entities
Set-semantics, order-insensitive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..operators.closure import canonicalize, redirect_closure

PRED_MENTIONS = "dbo:mentions"
PRED_TYPE = "rdf:type"


def canonical_annotations(
    annotations: DataFrame,
    redirects: DataFrame,
    disambiguations: DataFrame,
) -> DataFrame:
    closure = redirect_closure(redirects)
    return canonicalize(annotations, closure, disambiguations)


def _type_triples(mentions: DataFrame, entities: DataFrame) -> DataFrame:
    """(uri, rdf:type, t) for every entity ``mentions.uri`` uses. The
    used set is at most |entities| rows, and the entity table is a
    small store: broadcast it."""
    used = mentions.select("uri").distinct()
    return (
        used.join(F.broadcast(entities.select("uri", "types")), "uri", "inner")
        .select(
            F.col("uri").alias("subj"),
            F.lit(PRED_TYPE).alias("pred"),
            F.explode("types").alias("obj"),
        )
        .distinct()
    )


def materialize_triples(
    canon: DataFrame, entities: DataFrame
) -> DataFrame:
    mention_triples = canon.select(
        F.col("url").alias("subj"),
        F.lit(PRED_MENTIONS).alias("pred"),
        F.col("uri").alias("obj"),
    ).distinct()
    return mention_triples.unionByName(_type_triples(canon, entities))


def _checkpoint_complete(spark, path: str) -> bool:
    """True when ``path`` holds a completed write (``_SUCCESS``
    marker). Resolved through the Hadoop FileSystem API, not
    ``os.path``: checkpoint roots are hdfs://, s3a://, etc. in
    production, where a local-FS stat would always say "absent" and
    resume would silently never trigger."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path, "_SUCCESS")
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs.exists(hpath)


def materialize_triples_from_mention_pairs(
    pairs: DataFrame,
    entities: DataFrame,
    checkpoint_path: str | None = None,
    run_key: str | None = None,
) -> DataFrame:
    """Triples from already-distinct canonical (url, uri) mention
    pairs (annotate_mention_pairs dedups each Arrow batch inside the
    map pass; urls are unique per page, so the pairs are globally
    distinct with no exchange).

    Plan shape: the mention-triple branch is a pure projection — zero
    shuffles end-to-end from the pages scan. The used-entity branch is
    a partial-agg-dominated distinct (<= |entities| rows leave each
    partition). ``checkpoint_path`` materializes the pairs once so the
    two branches don't re-run the corpus map (the P1→P3 stage
    boundary; at fixture scale recompute is cheaper than the write) —
    and it doubles as the resume point: a completed checkpoint
    (``_SUCCESS`` present, probed via the Hadoop FileSystem API so
    hdfs:// / s3a:// roots resume too) is re-read instead of
    re-annotating the corpus, mirroring lineage.CheckpointedRun.phase's
    skip rule. ``run_key`` (a run-id or config hash) is appended to the
    path so a checkpoint from a DIFFERENT input/config is never
    silently reused as this run's result — callers that pass a bare
    shared root must supply it (jobs/annotate.py keys by --run-id)."""
    if checkpoint_path:
        if run_key:
            checkpoint_path = checkpoint_path.rstrip("/") + "/" + run_key
        spark = pairs.sparkSession
        if not _checkpoint_complete(spark, checkpoint_path):
            pairs.write.mode("overwrite").parquet(checkpoint_path)
        # the known schema skips Spark's schema-inference job
        pairs = spark.read.schema(pairs.schema).parquet(checkpoint_path)
    mention_triples = pairs.select(
        F.col("url").alias("subj"),
        F.lit(PRED_MENTIONS).alias("pred"),
        F.col("uri").alias("obj"),
    )
    return mention_triples.unionByName(_type_triples(pairs, entities))

