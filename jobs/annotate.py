"""Production entrypoint (north_rule: "run via spark-submit --py-files
on a multi-executor cluster").

    spark-submit --py-files dist/engine.zip jobs/annotate.py \
        --pages <iceberg-or-parquet path/identifier> \
        --stores <store warehouse root> \
        --out <triples destination> \
        --run-id <resume key> [--checkpoint-root <dir>] [--langs en,fr]

Reads the pages table (partition-pruned by --langs), loads the
warehouse jobs/build_stores.py wrote (its redirects and disambiguation
pages baked into the broadcast model) through ``entrypoint.load_model``,
runs the map-only fused annotator, and writes (subj, pred, obj)
triples through the catalog seam. With --checkpoint-root + --run-id
the mention pairs are materialized at the P1→P3 stage boundary and a
completed checkpoint (_SUCCESS present) is re-read on re-run instead
of re-annotating the corpus. For full phase/unit-level lineage +
resume (per-store, per lang), drive plans/lineage.run_flagship_resumable
instead.

The SparkSession is built WITHOUT a master so spark-submit supplies
cluster/master/executor config; local smoke ('world:<sf_dir>' in
--pages/--stores stands for the fixture world's pages/stores):

    python jobs/annotate.py --pages <pages parquet> --stores /tmp/wh \
        --out /tmp/triples_out
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True,
                    help="pages table path; 'world:<sf_dir>' wraps the driver documents fixture")
    ap.add_argument("--stores", required=True,
                    help="store warehouse root; 'world:<sf_dir>' builds the fixture world stores")
    ap.add_argument("--out", required=True)
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--checkpoint-root", default=None)
    ap.add_argument("--langs", default=None, help="comma-separated lang partition filter")
    args = ap.parse_args(argv)

    from dbpedia_spotlight_db_spark.entrypoint import (
        annotate_to_triples,
        load_model,
        load_pages,
    )
    from dbpedia_spotlight_db_spark.session import get_spark
    from dbpedia_spotlight_db_spark.sources import catalog

    spark = get_spark("kg-annotate")
    stores, model_bc = load_model(spark, args.stores)
    pages = load_pages(spark, args.pages)
    if args.langs:
        # partition-pruned on a lang-partitioned pages table
        pages = pages.filter(F.col("lang").isin(*args.langs.split(",")))

    npart = spark.sparkContext.defaultParallelism * 4
    pages = pages.repartition(npart)

    ck = run_key = None
    if args.checkpoint_root and args.run_id:
        import hashlib

        ck = os.path.join(args.checkpoint_root, args.run_id, "mentions")
        # key the checkpoint by the inputs/config too: a --run-id
        # accidentally reused against different pages/stores/langs must
        # MISS (re-annotate), not silently return the stale result
        run_key = hashlib.md5(
            f"{args.pages}|{args.stores}|{args.langs}".encode()
        ).hexdigest()[:12]
    triples = annotate_to_triples(
        spark, pages, stores, model_bc=model_bc, checkpoint_path=ck,
        run_key=run_key,
    )
    catalog.save(triples, "triples", args.out)
    print(f"wrote triples to {args.out}/triples")


if __name__ == "__main__":
    main()
