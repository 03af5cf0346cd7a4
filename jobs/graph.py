"""KG graph materialization (north_rule's "graph materialize" leg as
a standalone spark-submit job): from a (subj, pred, obj) triple
snapshot, build and persist the entity co-occurrence graph and its
node-analytics tables — the step that turns a pile of mention triples
into a queryable knowledge graph.

    spark-submit --py-files dist/engine.zip jobs/graph.py \
        --triples <triples root | world:<sf_dir>> \
        --out <graph warehouse root> \
        [--pagerank-iters 3] [--min-cooccur 1]

Outputs (through the catalog seam, each with a row-count manifest):

- ``edges``:  (src, dst, n_docs) — oriented src < dst, weighted by
  the number of distinct documents mentioning both entities;
- ``nodes``:  (uri, degree, strength, rank, component) — degree +
  co-mention strength, fixed-iteration PageRank salience, and the
  connected-component id (large-star/small-star CC, the hub-skew-safe
  variant — a web graph's giant component never lands on one key);
- ``graph_nt``: the edge set serialized as N-Triples lines (the
  reference's interchange format), round-trippable through
  sources.catalog.read_nt_triples.

Scale shape: the only corpus-sized relation is the mention-triple
scan; everything downstream is |E|ntity-sized. The co-occurrence
self-join is keyed by subject url (per-document entity sets are
dictionary-bounded, so the quadratic fan-out is per-doc small);
degree/strength/PageRank/CC all operate on the |E|-sized edge list
with map-side-combinable aggs. min_cooccur prunes the long noise
tail BEFORE the analytics (at web scale most pairs co-occur once).

Local smoke:

    python jobs/graph.py --triples world:<sf_dir> --out /tmp/graph_out
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F

from dbpedia_spotlight_db_spark.entrypoint import (
    annotate_to_triples,
    load_model,
    load_pages,
)
from dbpedia_spotlight_db_spark.operators.closure import pagerank
from dbpedia_spotlight_db_spark.operators.dedup import connected_components
from dbpedia_spotlight_db_spark.plans.materialize import PRED_MENTIONS
from dbpedia_spotlight_db_spark.sources import catalog

_NT_RES = "http://dbpedia.org/resource/"
_NT_REL = "http://dbpedia.org/ontology/related"


def build_graph(
    triples: DataFrame, pagerank_iters: int = 3, min_cooccur: int = 1
) -> dict[str, DataFrame]:
    """Pure graph build (tested directly): mention triples ->
    {edges, nodes, graph_nt}."""
    de = (
        triples.filter(F.col("pred") == PRED_MENTIONS)
        .select("subj", F.col("obj").alias("uri"))
        .distinct()
    )
    edges = (
        de.alias("a")
        .join(de.alias("b"), "subj")
        .filter(F.col("a.uri") < F.col("b.uri"))
        .groupBy(F.col("a.uri").alias("src"), F.col("b.uri").alias("dst"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .filter(F.col("n_docs") >= min_cooccur)
    )
    wsym = edges.unionByName(
        edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "n_docs"
        )
    )
    sym = wsym.select("src", "dst")
    deg = wsym.groupBy(F.col("src").alias("uri")).agg(
        F.count(F.lit(1)).cast("long").alias("degree"),
        F.sum("n_docs").cast("long").alias("strength"),
    )
    pr = pagerank(sym, iterations=pagerank_iters).select(
        "uri", F.round("rank", 6).alias("rank")
    )
    cc = connected_components(
        edges.select(F.col("src").alias("id_a"), F.col("dst").alias("id_b"))
    ).select(F.col("id").alias("uri"), "component")
    nodes = (
        deg.join(pr, "uri", "left")
        .join(cc, "uri", "left")
        .select(
            "uri",
            "degree",
            "strength",
            "rank",
            # an isolated node (possible under min_cooccur pruning of
            # ALL its edges) is its own singleton component
            F.coalesce("component", "uri").alias("component"),
        )
    )

    def iri(col):
        return F.concat(
            F.lit("<" + _NT_RES), F.expr(f"substring({col}, 5)"), F.lit(">")
        )

    graph_nt = edges.select(
        F.concat_ws(
            " ", iri("src"), F.lit(f"<{_NT_REL}>"), iri("dst"), F.lit(".")
        ).alias("line")
    )
    return {"edges": edges, "nodes": nodes, "graph_nt": graph_nt}


def _load_triples(spark, spec: str) -> DataFrame:
    if spec.startswith("world:"):
        stores, model_bc = load_model(spark, spec)
        return annotate_to_triples(
            spark, load_pages(spark, spec), stores, model_bc
        )
    return catalog.load(spark, "triples", spec)


def main(argv=None) -> None:
    from dbpedia_spotlight_db_spark.session import get_spark

    ap = argparse.ArgumentParser()
    ap.add_argument("--triples", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--pagerank-iters", type=int, default=3)
    ap.add_argument("--min-cooccur", type=int, default=1)
    args = ap.parse_args(argv)

    spark = get_spark("graph-materialize")
    triples = _load_triples(spark, args.triples)
    out = build_graph(
        triples, pagerank_iters=args.pagerank_iters, min_cooccur=args.min_cooccur
    )
    for name in ("edges", "nodes"):
        catalog.save(out[name], name, args.out)
    # text sink for the NT lines + the same manifest the tables get
    nt_path = os.path.join(args.out, "graph_nt")
    out["graph_nt"].write.mode("overwrite").text(nt_path)
    n = spark.read.text(nt_path).count()
    catalog._write_manifest(args.out, "graph_nt", rows=n, partition_by=[])
    print(
        "graph materialized:",
        {k: catalog.manifest(args.out, k)["rows"] for k in ("edges", "nodes", "graph_nt")},
    )


if __name__ == "__main__":
    main()
