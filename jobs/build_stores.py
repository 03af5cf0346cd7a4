"""Offline model build (P0) as a spark-submit job: annotated corpus ->
the six count stores, written through the catalog seam (Iceberg in
prod, partitioned Parquet + manifest locally).

    spark-submit --py-files dist/engine.zip jobs/build_stores.py \
        --corpus <parquet of (doc_id, text, links)> \
        --out <store warehouse root> \
        [--redirects <parquet of src_uri, dst_uri>] \
        [--disambiguations <parquet of uri>]

This is the equivalent of the reference's wikistats ingestion + store
serialization, re-expressed as salted, skew-aware aggregations. The
model loader (``entrypoint.load_model``) bakes the saved redirects and
disambiguation pages into the broadcast model.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# STORE_BUCKET_KEYS is imported from here too (tests/test_bucketed.py)
from dbpedia_spotlight_db_spark.plans.build_stores import (
    STORE_BUCKET_KEYS,
    build_stores,
)


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--corpus", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--redirects", default=None)
    ap.add_argument("--disambiguations", default=None)
    ap.add_argument("--salt-n", type=int, default=32)
    ap.add_argument("--n-buckets", type=int, default=8)
    args = ap.parse_args(argv)

    from dbpedia_spotlight_db_spark.session import get_spark
    from dbpedia_spotlight_db_spark.sources import catalog

    spark = get_spark("kg-build-stores")
    corpus = spark.read.parquet(args.corpus)
    # corpus-scale regime: corpus-proportional intermediates go
    # through parquet_checkpoint, not deserialized cache (GC storm
    # at multi-M rows — plans/build_stores.py docstring)
    stores = build_stores(spark, corpus, salt_n=args.salt_n, checkpoint=True)
    for name, key in STORE_BUCKET_KEYS.items():
        catalog.save_bucketed(
            stores[name], name, args.out, key, n_buckets=args.n_buckets
        )
    for name in ("redirects", "disambiguations"):
        if getattr(args, name):
            catalog.save(spark.read.parquet(getattr(args, name)), name, args.out)
    print(
        f"wrote {len(STORE_BUCKET_KEYS)} store tables to {args.out} "
        f"(bucketed x{args.n_buckets} on their join keys)"
    )


if __name__ == "__main__":
    main()
