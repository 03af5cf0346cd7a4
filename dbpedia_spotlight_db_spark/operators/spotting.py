"""Surface-form spotting (SURVEY.md §2.2 T3/T4).

Reference semantics (FSASpotter / AhoCorasickSpotter lineage, canonical
upstream path in SURVEY.md §1.1, UNVERIFIED-LOCALLY): scan the token
stream of a document against a dictionary of multi-token surface
forms; emit every dictionary match; resolve overlaps leftmost-longest;
drop matches whose surface form has annotation probability below the
spotter threshold.

Two consumers of the same semantics, cross-checked by
tests/test_spotting.py:

1. ``spot_ngram_join`` — the **relational reference**: token n-grams
   are generated *inside the row* with array higher-order functions
   (transform/slice/sequence — zero shuffle, whole-stage codegen), then
   broadcast-hash-joined against the surface-form dictionary.
   Dictionary max token length bounds the n-gram fan-out (reference
   surface forms are 1-5 tokens). ``plans/annotate.py`` spots with it.

2. ``TokenAhoCorasick`` — a from-scratch Aho-Corasick automaton over
   token sequences, the reference's broadcast-FSA design. It lives in
   the broadcast model of the fused annotator
   (``plans/annotate_fused.py``), which scans each page inside its
   Arrow-batched map pass.
"""

from __future__ import annotations

from collections import deque

import pandas as pd
from pyspark.sql import DataFrame, functions as F


# ---------------------------------------------------------------------------
# Relational n-gram join (reference path, SQL-oracle checkable)
# ---------------------------------------------------------------------------
def ngram_candidates(tokenized: DataFrame, max_len: int, doc_col: str = "url") -> DataFrame:
    """tokens:array<struct<text,start>> -> one row per token n-gram
    (1..max_len) with exact char span. All array work is per-row
    (transform/sequence/slice): no shuffle, no Python."""
    grams = []
    for L in range(1, max_len + 1):
        expr = f"""
            transform(
                sequence(0, size(tokens) - {L}),
                i -> struct(
                    tokens[i].start AS start,
                    tokens[i + {L - 1}].start + length(tokens[i + {L - 1}].text) AS end,
                    concat_ws(' ', transform(slice(tokens, i + 1, {L}), t -> lower(t.text))) AS sf
                )
            )
        """
        grams.append(
            tokenized.filter(F.size("tokens") >= L).select(
                F.col(doc_col).alias("url"), F.explode(F.expr(expr)).alias("g")
            )
        )
    out = grams[0]
    for g in grams[1:]:
        out = out.unionByName(g)
    return out.select(
        "url",
        F.col("g.start").alias("start"),
        F.col("g.end").alias("end"),
        F.col("g.sf").alias("surface_form"),
    )


def spot_ngram_join(
    tokenized: DataFrame,
    surface_forms: DataFrame,
    max_len: int,
    doc_col: str = "url",
) -> DataFrame:
    """Broadcast-join token n-grams against the dictionary -> mentions."""
    dict_df = F.broadcast(surface_forms.select("surface_form").distinct())
    return ngram_candidates(tokenized, max_len, doc_col).join(
        dict_df, "surface_form", "inner"
    ).select("url", "start", "end", "surface_form")


# ---------------------------------------------------------------------------
# Aho-Corasick over token sequences (the fused annotator's spotter)
# ---------------------------------------------------------------------------
class TokenAhoCorasick:
    """From-scratch Aho-Corasick automaton whose alphabet is *tokens*
    (not chars) — matching the reference FSA, which spots on token
    sequences and therefore never fires on substrings of words.

    States are dict-transitions; build is O(total pattern tokens);
    scan is O(doc tokens + matches). Built once on the driver from the
    surface-form store and broadcast to every executor.
    """

    def __init__(self, patterns: list[tuple[str, ...]]):
        self.goto: list[dict[str, int]] = [{}]
        self.fail: list[int] = [0]
        self.out: list[list[int]] = [[]]  # pattern lengths ending here
        for pat in patterns:
            s = 0
            for tok in pat:
                nxt = self.goto[s].get(tok)
                if nxt is None:
                    self.goto.append({})
                    self.fail.append(0)
                    self.out.append([])
                    nxt = len(self.goto) - 1
                    self.goto[s][tok] = nxt
                s = nxt
            self.out[s].append(len(pat))
        # BFS failure links
        q = deque()
        for s in self.goto[0].values():
            q.append(s)
        while q:
            r = q.popleft()
            for tok, s in self.goto[r].items():
                q.append(s)
                f = self.fail[r]
                while f and tok not in self.goto[f]:
                    f = self.fail[f]
                self.fail[s] = self.goto[f].get(tok, 0) if self.goto[f].get(tok, 0) != s else 0
                self.out[s] = self.out[s] + self.out[self.fail[s]]

    def scan(self, tokens: list[str]) -> list[tuple[int, int]]:
        """-> [(start_token_idx, n_tokens)] for every match."""
        s = 0
        hits = []
        for i, tok in enumerate(tokens):
            while s and tok not in self.goto[s]:
                s = self.fail[s]
            s = self.goto[s].get(tok, 0)
            for ln in self.out[s]:
                hits.append((i - ln + 1, ln))
        return hits


# ---------------------------------------------------------------------------
# T4: spot filtering + overlap resolution
# ---------------------------------------------------------------------------
def filter_by_annotation_prob(
    mentions: DataFrame, surface_forms: DataFrame, threshold: float
) -> DataFrame:
    """Drop mentions whose surface form's annotation probability is
    below the spotter threshold (reference: SurfaceFormStore lookup +
    spotterThresholdProbability). Broadcast join, applied BEFORE any
    expensive join (predicate-first, SURVEY.md §4.1)."""
    sf = F.broadcast(
        surface_forms.select("surface_form", "sf_id", "annotation_prob")
    )
    return (
        mentions.join(sf, "surface_form", "inner")
        .filter(F.col("annotation_prob") >= threshold)
    )


def resolve_overlaps_greedy(mentions: DataFrame) -> DataFrame:
    """Leftmost-longest greedy overlap resolution (the reference FSA
    policy): sort by (start asc, end desc); keep a mention iff it
    starts at/after the end of the last kept one.

    Sequential per document -> grouped-map ``applyInPandas`` keyed by
    url. Groups are single documents (bounded size), so this scales
    horizontally with the corpus."""

    def _resolve(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["start", "end"], ascending=[True, False])
        keep_idx = []
        last_end = -1
        for idx, start, end in zip(pdf.index, pdf["start"], pdf["end"]):
            if start >= last_end:
                keep_idx.append(idx)
                last_end = end
        return pdf.loc[keep_idx]

    return mentions.groupBy("url").applyInPandas(
        _resolve, mentions.schema
    )
