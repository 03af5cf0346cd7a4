"""T3/T4: n-gram-join spotting ≡ the fused annotator's Aho-Corasick
spotter; overlap policy."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from dbpedia_spotlight_db_spark.functions.text import tokenize
from dbpedia_spotlight_db_spark.operators.spotting import (
    TokenAhoCorasick,
    resolve_overlaps_greedy,
    spot_ngram_join,
)


def test_ac_unit():
    ac = TokenAhoCorasick([("a",), ("a", "b"), ("b", "c", "d"), ("c",)])
    hits = ac.scan(["x", "a", "b", "c", "d", "a"])
    assert set(hits) == {(1, 1), (1, 2), (3, 1), (2, 3), (5, 1)}


def _mention_set(df):
    return {
        (r.url, r.start, r.end, r.surface_form) for r in df.collect()
    }


def test_ngram_equals_ac(spark, pages_df, stores):
    tokenized = pages_df.limit(100).select(
        "url", tokenize(F.col("text")).alias("tokens")
    )
    sf = stores["surface_forms"]
    ng = _mention_set(spot_ngram_join(tokenized, sf, stores["max_sf_tokens"]))
    ac = TokenAhoCorasick(
        [tuple(r.surface_form.split(" ")) for r in sf.select("surface_form").collect()]
    )
    scanned = set()
    for r in tokenized.collect():
        texts = [t.text.lower() for t in r.tokens]
        for i, ln in ac.scan(texts):
            last = r.tokens[i + ln - 1]
            scanned.add(
                (r.url, r.tokens[i].start, last.start + len(last.text),
                 " ".join(texts[i : i + ln]))
            )
    assert ng == scanned
    assert ng


def test_overlap_greedy_leftmost_longest(spark):
    # mentions: [0,5) and nested [0,3), [2,7) overlapping, [7,9) clear
    pdf = pd.DataFrame(
        {
            "url": ["u"] * 4,
            "start": [0, 0, 2, 7],
            "end": [5, 3, 7, 9],
            "surface_form": ["long", "short", "cross", "tail"],
        }
    )
    df = spark.createDataFrame(pdf)
    got = {(r.start, r.end) for r in resolve_overlaps_greedy(df).collect()}
    assert got == {(0, 5), (7, 9)}
