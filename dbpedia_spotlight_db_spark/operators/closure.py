"""Redirect closure + canonicalization (SURVEY.md §2.3 J4/J5).

Reference semantics (WikipediaToDBpediaClosure, canonical upstream
path in SURVEY.md §1.1, UNVERIFIED-LOCALLY): follow Wikipedia redirect
edges transitively to a canonical DBpedia URI; drop annotations whose
target is a disambiguation page.

``closure_dict`` is the model's closure: ``build_model`` resolves the
collected edges on the driver, once. ``redirect_closure`` is its
distributed twin for the relational reference and the queries:
**pointer jumping** (iterated self-join, f := f∘f), which converges in
O(log(longest chain)) shuffles instead of O(chain) — 12 iterations
covers chains of 4096; each iteration is localCheckpoint()ed to cut
lineage growth. In both, a source with several edges keeps its
lexicographically smallest dst, so no result depends on edge order
or partitioning.

Cycle semantics (matching the reference's visited-set bailout: a
redirect chain that ever revisits a node is treated as no redirect):
after pointer jumping, a row's target is still a redirect *source*
exactly when it lies on a cycle — even cycles collapse to self-loops
under f∘f, odd cycles oscillate — so the final filter keeps only rows
whose dst is terminal (left_anti on dst==src). Cycle members AND
chains that dead-end in a cycle of either parity all canonicalize to
themselves, deterministically (tests/test_closure.py,
tests/test_property.py hypothesis fuzz vs the visited-set model).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def redirect_closure(redirects: DataFrame, max_iter: int = 12) -> DataFrame:
    """(src_uri, dst_uri) edges -> fixpoint map src_uri -> canonical dst_uri.

    Pointer jumping: each pass rewrites dst := f(dst) when dst is
    itself a redirect source, doubling resolved path length per pass.
    A source with several edges keeps its smallest ``dst_uri``.
    """
    cur = redirects.groupBy("src_uri").agg(F.min("dst_uri").alias("dst_uri"))
    for _ in range(max_iter):
        nxt = (
            cur.alias("a")
            .join(
                cur.alias("b"),
                F.col("a.dst_uri") == F.col("b.src_uri"),
                "left",
            )
            .select(
                F.col("a.src_uri").alias("src_uri"),
                F.coalesce(F.col("b.dst_uri"), F.col("a.dst_uri")).alias(
                    "dst_uri"
                ),
                (
                    F.col("b.dst_uri").isNotNull()
                    & (F.col("b.dst_uri") != F.col("a.dst_uri"))
                ).alias("_changed"),
            )
        )
        nxt = nxt.localCheckpoint(eager=True)
        changed = nxt.filter(
            F.col("_changed") & (F.col("src_uri") != F.col("dst_uri"))
        ).count()
        cur = nxt.drop("_changed")
        if changed == 0:
            break
    # A valid canonical target is TERMINAL: at fixpoint, dst is still a
    # redirect source only when it sits on a cycle (an even cycle
    # collapsed to a self-loop, or an odd cycle that oscillates under
    # f∘f) — and a chain whose resolution lands on such a dst reached a
    # cycle too. The reference's visited-set bailout maps all of those
    # to "no redirect", so keep exactly the rows whose dst is not a
    # source (left_anti on dst==src; self-loops are sources of
    # themselves, so this also subsumes the src != dst filter).
    sources = cur.select(F.col("src_uri").alias("dst_uri")).distinct()
    return cur.join(sources, "dst_uri", "left_anti").select(
        "src_uri", "dst_uri"
    )


def closure_dict(edges) -> dict[str, str]:
    """The model's redirect closure, resolved on the driver: visited-
    set chain following, any revisit -> no redirect — exactly the
    reference's bailout semantics, which ``redirect_closure``
    reproduces distributed (tests/test_property.py fuzzes their
    equivalence). ``edges`` is an iterable of (src, dst); a source
    with several edges keeps its smallest dst, as in
    ``redirect_closure``. Returns {src: canonical dst} for every
    source that resolves to another uri."""
    nxt: dict[str, str] = {}
    for s, d in edges:
        if s not in nxt or d < nxt[s]:
            nxt[s] = d
    out: dict[str, str] = {}
    for src in nxt:
        seen = {src}
        cur = src
        while cur in nxt:
            cur = nxt[cur]
            if cur in seen:
                cur = src  # cycle -> stays itself
                break
            seen.add(cur)
        if cur != src:
            out[src] = cur
    return out


def canonicalize(
    annotations: DataFrame,
    closure: DataFrame,
    disambiguations: DataFrame,
    uri_col: str = "uri",
) -> DataFrame:
    """J5: rewrite uri through the closure (broadcast left join +
    coalesce), then drop disambiguation-page targets (left_anti)."""
    out = (
        annotations.join(
            F.broadcast(closure),
            annotations[uri_col] == closure["src_uri"],
            "left",
        )
        .withColumn(uri_col, F.coalesce(F.col("dst_uri"), F.col(uri_col)))
        .drop("src_uri", "dst_uri")
    )
    return out.join(
        F.broadcast(disambiguations),
        out[uri_col] == disambiguations["uri"],
        "left_anti",
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge set — entity
    salience for the constructed KG (which entities anchor the graph;
    the standard prior for entity-ranking downstream of annotation).
    Output: (uri, rank), nodes = edge endpoints, uniform init 1/|V|,
    rank_{t+1}(v) = (1-d)/|V| + d * sum_{u->v} rank_t(u)/outdeg(u).

    Spark shape per iteration: one broadcast-sized contribution agg
    (groupBy dst, map-side combinable) + a left join back to the node
    set — rank/degree relations are |V|-sized (entities, not pages),
    orders of magnitude below the corpus, so every join side here
    broadcasts at web scale. Fixed iteration count (not convergence
    polling) keeps the plan static and the DuckDB oracle expressible
    as unrolled CTEs. Dangling nodes contribute nothing (matching the
    unrolled-SQL twin); with symmetric edge input every node has
    outdeg >= 1 and the distinction vanishes."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    nodes = (
        e.select(F.col("src").alias("uri"))
        .unionByName(e.select(F.col("dst").alias("uri")))
        .distinct()
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    n_v = nodes.select(F.count(F.lit(1)).alias("n_v"))
    ranks = nodes.crossJoin(F.broadcast(n_v)).select(
        "uri", (F.lit(1.0) / F.col("n_v")).alias("rank")
    )
    for _ in range(iterations):
        contrib = (
            e.join(F.broadcast(ranks), e["src"] == ranks["uri"])
            .join(F.broadcast(deg), "src")
            .groupBy(F.col("dst").alias("uri"))
            .agg(F.sum(F.col("rank") / F.col("outdeg")).alias("m"))
        )
        ranks = (
            nodes.join(F.broadcast(contrib), "uri", "left")
            .crossJoin(F.broadcast(n_v))
            .select(
                "uri",
                (
                    F.lit(1.0 - damping) / F.col("n_v")
                    + F.lit(damping) * F.coalesce("m", F.lit(0.0))
                ).alias("rank"),
            )
        )
    return ranks
