"""Incremental KG refresh (north_rule: the 10^12-doc triple store is
maintained, not rebuilt — a daily crawl re-annotates a sliver of the
corpus and the snapshot must advance without touching the rest):

    spark-submit --py-files dist/engine.zip jobs/refresh.py \
        --base <prior triples root> \
        --pages <delta pages path> \
        --stores <store warehouse root | world:<sf_dir>> \
        --out <new snapshot root> \
        [--gone-urls <parquet of url:string tombstones>]

Semantics (the crawl_upsert MERGE shape, lifted from key-value rows to
the (subj, pred, obj) store where one url owns MANY rows):

- every url in the delta is re-annotated from scratch and its NEW
  mention-triple set REPLACES its old one wholesale (a re-fetched page
  may gain, lose, or change mentions — per-row upsert would leave
  stale triples behind, so replacement is per-URL, not per-row);
- entity-level triples (rdf:type) follow the merged mention set: a
  base entity row is kept iff a KEPT base mention still references
  the entity, and the delta's own entity rows union in (the delta
  annotate emits them for exactly the entities it mentions), so an
  entity that lost its last mention loses its type rows too — the
  merged snapshot is row-identical to a from-scratch annotate of the
  corpus' current state when base and delta share one entity store
  (pinned by tests/test_refresh.py);
- urls listed in --gone-urls are tombstones: their triples are
  dropped and nothing replaces them (410s, parked domains, robots
  removals);
- every other url's triples are carried over untouched.

Scale shape: base is corpus-sized, the delta is a day's crawl, so the
two subject-key anti-joins are UNHINTED (AQE broadcasts the delta/
tombstone key sets when they fit — the same discipline as
dedup_survivors and crawl_upsert; with the base snapshot bucketed on
subj via catalog.save_bucketed even the shuffle disappears). The
delta annotate itself is the map-only fused plan — refresh adds no
wide exchange beyond what a fresh annotate of the delta needs, and the
merge reads the annotated delta once per branch (mention rows, entity
rows), never again for the live-entity set. The base snapshot opens
with its manifest's schema (no inference job) and the save counts its
rows inside the write job, so the save of the merged snapshot is the
cycle's only Spark action (its jobs are that write's query stages).

Local smoke (a base that jobs/annotate.py wrote from /tmp/wh):

    python jobs/refresh.py --base /tmp/base_out \
        --pages <delta pages parquet> --stores /tmp/wh \
        --out /tmp/refresh_out --gone-urls <tombstones parquet>
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from dbpedia_spotlight_db_spark.entrypoint import (
    annotate_to_triples,
    load_model,
    load_pages,
)
from dbpedia_spotlight_db_spark.plans.materialize import PRED_MENTIONS
from dbpedia_spotlight_db_spark.sources import catalog


def merge_triples(base, fresh, delta_urls, gone_urls=None):
    """Pure merge (tested directly): base/fresh are (subj, pred, obj)
    DataFrames, delta_urls/gone_urls are 1-column (subj) url key sets
    (duplicate keys are fine: they do not change a left-anti join).

    The triple store holds two subject kinds (plans/materialize.py):
    page-level ``dbo:mentions`` rows (subj = url) and entity-level
    rows like ``rdf:type`` (subj = entity uri). They merge
    differently:

    - mention rows replace per-URL: base rows whose subj is in either
      key set drop, fresh rows union in;
    - entity rows are deterministic facts from the entity store that
      must exist iff the entity is STILL referenced by the merged
      mention set (a re-crawl that removed an entity's only mention
      must also remove its type triples, exactly as a from-scratch
      run would). The live set is the distinct objects of the KEPT
      base mentions only; entity rows are
      ``distinct((base entity rows ⋉ live) ∪ fresh entity rows)``.

    Precondition for that rule: ``fresh`` is an ``annotate_to_triples``
    output (every fresh entity row's subject is the object of a fresh
    mention, so fresh entity rows are all live) and ``base`` was built
    on the same entity store (a base entity row dropped here because
    only fresh mentions reference it is also in fresh). Under it the
    result equals the semi-join of all entity rows against the merged
    mentions' objects, while ``fresh`` — the annotated delta, a Python
    pass per read — is read once per branch, not again for the live
    set. Both key sets here are entity-scale, not corpus-scale."""
    drop = delta_urls
    if gone_urls is not None:
        drop = drop.unionByName(gone_urls)
    is_mention = F.col("pred") == PRED_MENTIONS
    kept = base.filter(is_mention).join(drop, "subj", "left_anti")
    live = kept.select(F.col("obj").alias("subj")).distinct()
    entity_rows = (
        base.filter(~is_mention)
        .join(live, "subj", "left_semi")
        .unionByName(fresh.filter(~is_mention))
        .distinct()
    )
    return kept.unionByName(fresh.filter(is_mention)).unionByName(entity_rows)


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", required=True,
                    help="prior snapshot root (catalog layout with a 'triples' table)")
    ap.add_argument("--pages", required=True,
                    help="DELTA pages table; 'world:<sf_dir>' wraps the documents fixture")
    ap.add_argument("--stores", required=True,
                    help="store warehouse root; 'world:<sf_dir>' builds the fixture world")
    ap.add_argument("--out", required=True)
    ap.add_argument("--gone-urls", default=None,
                    help="optional parquet of url:string tombstones to drop")
    ap.add_argument("--delta-filter", default=None,
                    help="SQL predicate selecting the delta slice of --pages "
                         "(smoke/testing aid; production passes a delta table)")
    args = ap.parse_args(argv)

    from dbpedia_spotlight_db_spark.session import get_spark

    spark = get_spark("kg-refresh")
    stores, model_bc = load_model(spark, args.stores)
    pages = load_pages(spark, args.pages)
    if args.delta_filter:
        pages = pages.filter(args.delta_filter)

    base = catalog.load(spark, "triples", args.base)
    fresh = annotate_to_triples(spark, pages, stores, model_bc=model_bc)
    delta_urls = pages.select(F.col("url").alias("subj"))
    gone = None
    if args.gone_urls:
        gone = spark.read.parquet(args.gone_urls).select(
            F.col("url").alias("subj")
        )
    merged = merge_triples(base, fresh, delta_urls, gone)
    catalog.save(merged, "triples", args.out)
    n = catalog.manifest(args.out, "triples")["rows"]
    print(f"wrote refreshed snapshot ({n} triples) to {args.out}/triples")


if __name__ == "__main__":
    main()
