"""Fused map-only annotator — the web-scale P1 path.

The reference serves each request single-threaded against broadcast/
memory-mapped model stores (SpotlightModel; canonical upstream locus in
SURVEY.md §1.1, UNVERIFIED-LOCALLY). The idiomatic Spark translation of
that architecture at 10^12 documents is: **the model is a broadcast
variable; the corpus pass is map-only**. One Arrow-batched
``mapInPandas`` performs extract -> tokenize -> AC-spot -> threshold ->
leftmost-longest overlap resolution -> candidate lookup -> generative
scoring -> argmax per document, producing the annotations relation with
ZERO shuffles. The only shuffles in P1-P3 are then the triple
``distinct`` and the (tiny) redirect-closure build.

Semantics are exactly those of the stage-by-stage relational pipeline
in ``plans/annotate.py`` (tests/test_fused.py proves equality on the
fixture corpus); the relational pipeline is the pure-DataFrame
reference this pass is checked against, not an execution path.

Scale math: the broadcast model is the same payload the reference mmaps
per node (hundreds of MB for full Wikipedia — well inside executor
memory); every executor gets it once per job, then streams pages.
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from ..functions.text import (
    _TOKEN_RE,
    _extract_one,
    _stem_cached,
    LINKING_STOPWORDS,
)
from ..operators.closure import closure_dict
from ..operators.spotting import TokenAhoCorasick

ANNOTATION_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("start", T.IntegerType(), False),
        T.StructField("end", T.IntegerType(), False),
        T.StructField("surface_form", T.StringType(), False),
        T.StructField("uri", T.StringType(), False),
        T.StructField("score", T.DoubleType(), False),
        T.StructField("second_rank_ratio", T.DoubleType(), False),
    ]
)


class LinkingModel:
    """Picklable, broadcast-able model bundle (the SpotlightModel
    equivalent): AC automaton + surface-form thresholds + candidate
    arrays with precomputed log-priors + token ICF vocab + entity
    context vectors."""

    def __init__(
        self,
        automaton: TokenAhoCorasick,
        sf_info: dict,  # surface_form -> (sf_id, annotation_prob)
        candidates: dict,  # sf_id -> (uris list, entity_ids i64, prior f64) sorted by (-prior, uri)
        vocab: dict,  # token -> (token_id, icf)
        entity_vecs: dict,  # entity_id -> (token_ids i64 sorted, weights f64, norm)
        canon_map: dict | None = None,  # uri -> canonical uri (redirect closure)
        disambig: frozenset = frozenset(),  # disambiguation-page uris (dropped)
    ):
        self.automaton = automaton
        self.sf_info = sf_info
        self.candidates = candidates
        self.vocab = vocab
        self.entity_vecs = entity_vecs
        self.canon_map = canon_map or {}
        self.disambig = disambig


def build_model(
    stores: dict,
    redirects: DataFrame | None = None,
    disambiguations: DataFrame | None = None,
) -> LinkingModel:
    """Collect the (post-aggregation, small) store tables into the
    broadcast bundle. Priors are precomputed here:
    prior = log P(e) + log P(s|e) = log(c(e)/N) + log(c(s,e)/c(e)).

    Passing ``redirects``/``disambiguations`` bakes P2 canonicalization
    into the model (the reference resolves the redirect closure at
    model-build time — WikipediaToDBpediaClosure): the fused pass then
    emits canonical annotations directly and the relational
    ``canonicalize`` join is not needed downstream. The closure is
    resolved on the driver (``closure_dict`` of the collected edges;
    the model holds one entry per redirect source either way).

    The five store collects (seven with redirects and disambiguations)
    are independent Spark actions submitted CONCURRENTLY (thread pool):
    with lazily-persisted store tables the sequential form materialized
    the shared P0 lineage one chain at a time; concurrent submission
    overlaps those jobs (Spark's scheduler and block manager are
    thread-safe; shared cached parents are computed once and served to
    the other jobs)."""
    from concurrent.futures import ThreadPoolExecutor

    ent = stores["entities"].select("entity_id", "uri", "support")
    with ThreadPoolExecutor(max_workers=7) as pool:
        f_sf = pool.submit(
            stores["surface_forms"]
            .select("surface_form", "sf_id", "annotation_prob")
            .collect
        )
        f_total = pool.submit(
            lambda: float(ent.agg(F.sum("support")).collect()[0][0])
        )
        f_cand = pool.submit(
            stores["candidate_map"]
            .join(ent, "entity_id")
            .select("sf_id", "entity_id", "uri", "support", "pair_count")
            .collect
        )
        f_vocab = pool.submit(
            stores["tokens"]
            .join(stores["icf"].select("token_id", "icf"), "token_id")
            .select("token", "token_id", "icf")
            .collect
        )
        f_vecs = pool.submit(entity_vecs_dict, stores)
        f_red = f_dis = None
        if redirects is not None:
            f_red = pool.submit(redirects.select("src_uri", "dst_uri").collect)
        if disambiguations is not None:
            f_dis = pool.submit(disambiguations.select("uri").collect)
        sf_rows = f_sf.result()
        total_support = f_total.result()
        cand_rows = f_cand.result()
        vocab_rows = f_vocab.result()
        entity_vecs = f_vecs.result()
        canon_map = closure_dict(f_red.result()) if f_red else {}
        disambig = (
            frozenset(r.uri for r in f_dis.result()) if f_dis else frozenset()
        )

    sf_info = {
        r.surface_form: (int(r.sf_id), float(r.annotation_prob)) for r in sf_rows
    }
    automaton = TokenAhoCorasick(
        [tuple(s.split(" ")) for s in sf_info]
    )

    by_sf: dict[int, list] = {}
    for r in cand_rows:
        prior = math.log(r.support / total_support) + math.log(
            r.pair_count / r.support
        )
        by_sf.setdefault(int(r.sf_id), []).append(
            (prior, r.uri, int(r.entity_id))
        )
    candidates = {}
    for sf_id, lst in by_sf.items():
        lst.sort(key=lambda x: (-x[0], x[1]))  # prior desc, uri asc
        candidates[sf_id] = (
            [x[1] for x in lst],
            [int(x[2]) for x in lst],
            # exp(prior) precomputed: score = w_p*exp_prior + w_c*ctx,
            # and ordering by exp_prior desc == prior desc
            [math.exp(x[0]) for x in lst],
        )

    vocab = {r.token: (int(r.token_id), float(r.icf)) for r in vocab_rows}

    return LinkingModel(
        automaton, sf_info, candidates, vocab, entity_vecs, canon_map, disambig
    )


def entity_vecs_dict(stores: dict) -> dict:
    """entity_id -> (sorted token_ids i64, weights f64, norm): the
    NumPy form of the entity context vectors that ``_annotate_doc``'s
    cosine reads from the model."""
    return {
        int(r.entity_id): (
            np.asarray(r.token_ids, dtype=np.int64),
            np.asarray(r.weights, dtype=np.float64),
            float(r.norm),
        )
        for r in stores["entity_vectors"].collect()
    }


def _annotate_doc(
    url: str,
    html,
    model: LinkingModel,
    spotter_threshold: float,
    confidence: float,
    top_m: int,
    w_prior: float,
    w_ctx: float,
    out_rows: list,
    context_window: int | None = None,
) -> None:
    text = _extract_one(html)
    if not text:
        return
    toks = [(m.group(0), m.start()) for m in _TOKEN_RE.finditer(text)]
    if not toks:
        return
    low = [t.lower() for t, _ in toks]
    n_tok = len(toks)

    # T3 spot + T4 threshold. Spans carry -end so the native tuple
    # sort gives (start asc, end desc) without a key lambda; (start,
    # -end) is unique per match so later elements never compare.
    spans = []
    sf_info_get = model.sf_info.get
    for i, ln in model.automaton.scan(low):
        sf = " ".join(low[i : i + ln])
        info = sf_info_get(sf)
        if info is None or info[1] < spotter_threshold:
            continue
        last_tok = toks[i + ln - 1]
        spans.append(
            (toks[i][1], -(last_tok[1] + len(last_tok[0])), sf, info[0], i, ln)
        )
    if not spans:
        return
    spans.sort()
    kept = []
    last_end = -1
    for s in spans:
        if s[0] >= last_end:
            kept.append(s)
            last_end = -s[1]

    # per-position analyzed entries (T5 input) — same T2 analysis chain
    # as the store build: stopwords skipped, the (memoized) stem is the
    # vocabulary key; None marks stop/OOV positions
    vocab_get = model.vocab.get
    entries = [
        None if t in LINKING_STOPWORDS else vocab_get(_stem_cached(t))
        for t in low
    ]

    def _ctx_vec(lo: int, hi: int):
        """TF*ICF vector over token positions [lo, hi) — the whole
        document when context_window is None (reference default for
        single-paragraph texts), else the mention's ±W token window
        (T5: DBTwoStepDisambiguator scores against the mention
        context, not the full page)."""
        tf: dict[int, float] = {}
        icf_of: dict[int, float] = {}
        for e in entries[lo:hi]:
            if e is not None:
                tf[e[0]] = tf.get(e[0], 0.0) + 1.0
                icf_of[e[0]] = e[1]
        if not tf:
            return (
                np.empty(0, dtype=np.int64),
                np.empty(0, dtype=np.float64),
                0.0,
            )
        ids_sorted = sorted(tf)
        ctx_ids = np.fromiter(ids_sorted, dtype=np.int64, count=len(ids_sorted))
        ctx_ws = np.asarray(
            [tf[i] * icf_of[i] for i in ids_sorted], dtype=np.float64
        )
        return ctx_ids, ctx_ws, float(np.sqrt(np.dot(ctx_ws, ctx_ws)))

    whole_doc = _ctx_vec(0, n_tok) if context_window is None else None

    # J1-J3 + C1-C4 + A7 per mention. Two memo levels, both scoped to
    # the document: the cosine is cached per (window, entity), and the
    # whole disambiguation DECISION — (uri, score, srr) or a drop — is
    # cached per (window, surface form), since it depends on nothing
    # else. With whole-document context (the hot default) every
    # mention shares one window, so a surface form repeated across the
    # page is scored exactly once and repeated candidates hit the
    # cosine cache across surface forms. (A fully NumPy-vectorized
    # candidate axis was measured 2.5x SLOWER here: candidate lists
    # are short, so per-mention ndarray call overhead dominates —
    # tools/control_kernel.py is the harness that settles this.)
    cos_cache: dict[tuple, float] = {}
    decision_cache: dict[tuple, tuple | None] = {}
    vecs_get = model.entity_vecs.get
    for start, neg_end, sf, sf_id, ti, ln in kept:
        if context_window is None:
            lo, hi = 0, n_tok
        else:
            lo = max(0, ti - context_window)
            hi = min(n_tok, ti + ln + context_window)
        dkey = (lo, hi, sf_id)
        if dkey in decision_cache:
            hit = decision_cache[dkey]
            if hit is not None:
                out_rows[0].append(url)
                out_rows[1].append(start)
                out_rows[2].append(-neg_end)
                out_rows[3].append(sf)
                out_rows[4].append(hit[0])
                out_rows[5].append(hit[1])
                out_rows[6].append(hit[2])
            continue
        cand = model.candidates.get(sf_id)
        if cand is None:
            decision_cache[dkey] = None
            continue
        if context_window is None:
            ctx_ids, ctx_ws, ctx_norm = whole_doc
        else:
            ctx_ids, ctx_ws, ctx_norm = _ctx_vec(lo, hi)
        uris, ent_ids, exp_priors = cand
        m = min(top_m, len(uris))
        # single-pass argmax + runner-up with (score desc, uri asc)
        best_score = second = -1.0
        best_uri = None
        for j in range(m):
            eid = ent_ids[j]
            ckey = (lo, hi, eid)
            ctx_score = cos_cache.get(ckey)
            if ctx_score is None:
                ctx_score = 0.0
                if ctx_norm > 0:
                    ev = vecs_get(eid)
                    if ev is not None:
                        etids, ews, enorm = ev
                        idx = np.searchsorted(etids, ctx_ids)
                        ok = (idx < len(etids)) & (
                            etids[np.minimum(idx, len(etids) - 1)] == ctx_ids
                        )
                        denom = ctx_norm * enorm
                        if denom > 0:
                            ctx_score = (
                                float(np.dot(ctx_ws[ok], ews[idx[ok]])) / denom
                            )
                cos_cache[ckey] = ctx_score
            score = w_prior * exp_priors[j] + w_ctx * ctx_score
            if score > best_score or (
                score == best_score and uris[j] < best_uri
            ):
                second = best_score
                best_score, best_uri = score, uris[j]
            elif score > second:
                second = score
        if best_uri is None:
            decision_cache[dkey] = None
            continue
        srr = second / best_score if m > 1 and best_score > 0 else 0.0
        if (1.0 - srr) < confidence:
            decision_cache[dkey] = None
            continue
        # P2 baked in: canonicalize through the closure, drop
        # disambiguation-page targets (no-ops for an empty model)
        best_uri = model.canon_map.get(best_uri, best_uri)
        if best_uri in model.disambig:
            decision_cache[dkey] = None
            continue
        decision_cache[dkey] = (best_uri, best_score, srr)
        out_rows[0].append(url)
        out_rows[1].append(start)
        out_rows[2].append(-neg_end)
        out_rows[3].append(sf)
        out_rows[4].append(best_uri)
        out_rows[5].append(best_score)
        out_rows[6].append(srr)


def _annotate_pass(
    spark: SparkSession,
    pages: DataFrame,
    stores: dict,
    cfg,
    model_bc,
    emit,
    schema: T.StructType,
) -> DataFrame:
    """The one map pass: lang routing, then ``_annotate_doc`` over
    every page of each Arrow batch into seven column buffers, which
    ``emit(cols) -> pd.DataFrame`` turns into the batch's output."""
    if model_bc is None:
        model_bc = spark.sparkContext.broadcast(build_model(stores))
    thr, conf = cfg.spotter_threshold, cfg.confidence
    top_m, w_p, w_c = cfg.top_m_prior, cfg.w_prior, cfg.w_ctx
    ctx_w = cfg.context_window
    routed = pages.filter(F.col("lang").isin(*cfg.langs)).select("url", "html")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        model: LinkingModel = model_bc.value
        for pdf in batches:
            cols: list = [[], [], [], [], [], [], []]
            for url, html in zip(pdf["url"], pdf["html"]):
                _annotate_doc(
                    url, html, model, thr, conf, top_m, w_p, w_c, cols,
                    context_window=ctx_w,
                )
            yield emit(cols)

    return routed.mapInPandas(run, schema)


def _annotation_frame(cols: list) -> pd.DataFrame:
    # column-wise buffers: typed ndarray/Series construction, never a
    # row-at-a-time DataFrame of tuples
    return pd.DataFrame(
        {
            "url": pd.Series(cols[0], dtype="object"),
            "start": pd.Series(cols[1], dtype="int32"),
            "end": pd.Series(cols[2], dtype="int32"),
            "surface_form": pd.Series(cols[3], dtype="object"),
            "uri": pd.Series(cols[4], dtype="object"),
            "score": pd.Series(cols[5], dtype="float64"),
            "second_rank_ratio": pd.Series(cols[6], dtype="float64"),
        }
    )


def annotate_fused(
    spark: SparkSession,
    pages: DataFrame,
    stores: dict,
    cfg,
    model_bc=None,
) -> DataFrame:
    """pages(url, html, lang, ...) -> annotations, map-only.

    ``model_bc``: pass a prebuilt ``sc.broadcast(build_model(stores))``
    to reuse the model across jobs (the model is built once per run,
    like the reference loads SpotlightModel once at boot)."""
    return _annotate_pass(
        spark, pages, stores, cfg, model_bc, _annotation_frame,
        ANNOTATION_SCHEMA,
    )


PAIR_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("uri", T.StringType(), False),
    ]
)


def _pair_frame(cols: list) -> pd.DataFrame:
    # sorted for row-order determinism across hash seeds
    pairs = sorted(set(zip(cols[0], cols[4])))
    return pd.DataFrame(
        {
            "url": pd.Series([p[0] for p in pairs], dtype="object"),
            "uri": pd.Series([p[1] for p in pairs], dtype="object"),
        }
    )


def annotate_mention_pairs(
    spark: SparkSession,
    pages: DataFrame,
    stores: dict,
    cfg,
    model_bc=None,
) -> DataFrame:
    """pages -> distinct canonical (url, uri) mention pairs, map-only.

    The triples pipeline only needs the per-document entity SET, so
    the dedup happens inside the same Arrow pass — the 2-3x larger
    annotation relation never crosses the Python/JVM boundary (and,
    urls being unique per page, the output is globally distinct
    without any exchange)."""
    return _annotate_pass(
        spark, pages, stores, cfg, model_bc, _pair_frame, PAIR_SCHEMA
    )
