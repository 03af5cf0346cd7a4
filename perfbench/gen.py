"""Seeded input generator for the benchmark workloads.

Self-contained on purpose: it shares no code with the package's test
fixtures, so edits there never move the benchmark's inputs. The same
seed and parameters give byte-identical inputs, cached on disk under
``<cache>/<key>/`` where the key hashes (seed, parameters, GEN_VERSION).

The linking world, the store corpus built from it, the refresh base
corpus and the memo-filling warm pages are drawn from the fixed
``WORLD_SEED``: like a deployment, every run annotates against one
model and refreshes one corpus, and the store build they need runs once
per checkout and package version. ``--seed`` draws everything the
timed part reads: the annotate pages and the refresh crawl deltas.

The linking world: ~200 canonical entities, ~400 surface forms of 1-3
tokens with ambiguous candidate sets, Zipf-skewed surface-form use,
redirect chains of length 1-3 plus one 2-cycle, and disambiguation
pages among the candidates. Surface-form tokens use letters (k, v, x,
z) that no other vocabulary uses, and long-tail tokens carry a digit,
so spotting never fires on filler text by accident.

Outputs (parquet, one directory per table):

- ``wiki``    (doc_id, text, links)        the annotated corpus P0 builds stores from
- ``redirects`` (src_uri, dst_uri), ``disambiguations`` (uri)
- ``probe``                                a fixed page slice for the fused-vs-relational check
- ``pages/batch_<b>`` / ``pages_gold``     annotate input batches and their gold (url, uri) links
- ``warm``                                 tail-heavy pages the annotate set-up fills each
                                           worker's stem memo with
- ``base`` / ``base_gold``                 refresh: the corpus behind the first snapshot
- ``cycle_<k>/{pages,gone,gold}``          refresh: crawl delta k, its tombstones and gold

Gold links are canonical uris (redirect closure applied) with
disambiguation targets dropped: exactly what a perfect annotator
would emit as ``dbo:mentions`` triples.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 3
WORLD_SEED = 0
LANGS = np.array(["en", "fr", "es", "de", "zh"])
LANG_P = np.array([0.40, 0.15, 0.15, 0.15, 0.15])
STEM_MEMO_BOUND = 1 << 18  # functions/text.py _STEM_CACHE_MAX
_VOWELS = "aeiou"
_EN_FUNCTION = "the of and to in is for with that on as by".split()
_SYMBOLS = ["&", "<", ">", "AT&T", "a<b", "x>y", "&lt;", "é"]

WORLD = {
    "n_entities": 200,
    "n_surface_forms": 400,
    "n_chains": 24,
    "n_disambig": 10,
    "n_topic_words": 800,
    "head_words_per_lang": 400,
    "low_prob_sf_frac": 0.06,
}
WIKI = {
    "n_docs": 2400,
    "mentions_per_doc": 6.0,
    "filler_per_doc": 70,
    "tail_per_doc": 3,
    "tail_pool": 20_000,
    "link_p": 0.85,
    "low_prob_link_p": 0.08,
    "top_sf_doc_share": 0.20,
}
# Long-tail shares are choices, not measurements: a timed page carries
# about 10 % long-tail words, a modest share meant to stand for ids,
# codes and typos. The stem memo is filled by volume instead: set-up
# runs each Python worker over its share of the tail-heavy WARM pages,
# whose distinct tail tokens exceed the memo bound, and the memo never
# evicts, so timed pages meet a full memo.
PAGES = {
    "n_docs": 6000,
    "batches": 2,  # annotate jobs take the batches in turn
    "mentions_per_doc": 6.0,
    "filler_per_doc": 60,
    "tail_per_doc": 9,
    "tail_pool": 2_000_000,
}
WARM = {
    "docs_per_worker": 600,  # n_docs = docs_per_worker * cores
    "batches": 1,
    "mentions_per_doc": 6.0,
    "filler_per_doc": 60,
    "tail_per_doc": 460,
    "tail_pool": 100_000_000,
}
# a fixed slice for the fused-vs-relational check
PROBE = {"n_docs": 40, "batches": 1, "mentions_per_doc": 6.0, "filler_per_doc": 60,
         "tail_per_doc": 10, "tail_pool": 100_000}
REFRESH = {
    "n_base": 3000,
    "n_cycles": 40,
    "delta_frac": 0.03,
    # re-fetched unchanged, re-fetched changed, new url, tombstone: a
    # chosen mix, not one measured on a crawl
    "mix": [0.40, 0.30, 0.20, 0.10],
    "mentions_per_doc": 5.0,
    "filler_per_doc": 50,
    "tail_per_doc": 10,
    "tail_pool": 200_000,
}


def _escape(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _pseudo_words(rng, consonants: str, n: int, n_syl: tuple[int, ...]) -> np.ndarray:
    """``n`` distinct consonant-vowel pseudo-words, vectorized."""
    sylls = np.array([c + v for c in consonants for v in _VOWELS])
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        k = 4 * n
        lens = rng.choice(n_syl, size=k)
        idx = rng.integers(0, len(sylls), size=(k, max(n_syl)))
        parts = sylls[idx]
        for row, ln in zip(parts, lens):
            w = "".join(row[:ln])
            if w not in seen:
                seen.add(w)
                out.append(w)
                if len(out) == n:
                    break
    return np.array(out, dtype=object)


def _tail_tokens(ids: np.ndarray) -> np.ndarray:
    """Integer ids -> distinct 6-char tokens with one digit (web-tail
    shape: ids, typos, codes). Vectorized base-26 encoding."""
    ids = np.asarray(ids, dtype=np.int64)
    codes = np.empty((len(ids), 6), dtype=np.uint8)
    rest = ids // 10
    for j in (0, 1, 3, 4, 5):
        codes[:, j] = ord("a") + rest % 26
        rest //= 26
    codes[:, 2] = ord("0") + ids % 10
    return codes.view("S6").ravel().astype(str).astype(object)


def _zipf(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def _zipf_for_share(n: int, per_doc: float, share: float) -> np.ndarray:
    """Zipf weights whose top item appears in ~``share`` of documents
    drawing ``per_doc`` items each (bisection on the exponent)."""
    lo, hi = 0.0, 3.0
    target = 1.0 - (1.0 - share) ** (1.0 / per_doc)
    for _ in range(60):
        mid = (lo + hi) / 2
        if _zipf(n, mid)[0] < target:
            lo = mid
        else:
            hi = mid
    return _zipf(n, (lo + hi) / 2)


def closure(edges: dict[str, str]) -> dict[str, str]:
    """Follow redirect chains; a chain that revisits a node is no
    redirect (the reference's visited-set bailout)."""
    out = {}
    for src in edges:
        seen, cur = {src}, src
        while cur in edges:
            cur = edges[cur]
            if cur in seen:
                cur = src
                break
            seen.add(cur)
        if cur != src:
            out[src] = cur
    return out


def make_world(rng) -> dict:
    p = WORLD
    n_e, n_s = p["n_entities"], p["n_surface_forms"]
    sf_tokens = _pseudo_words(rng, "kvxz", 600, (2, 3))
    topic = _pseudo_words(rng, "bdgp", p["n_topic_words"], (3,))
    head = {}
    for lang, cons in zip(LANGS, ["tnrs", "lmcj", "fhwy", "trsl", ""]):
        if lang == "zh":
            chars = np.array([chr(0x4E00 + i) for i in range(300)])
            idx = rng.integers(0, len(chars), size=(p["head_words_per_lang"] * 2, 2))
            words = pd.unique(np.array(["".join(r) for r in chars[idx]], dtype=object))
            head[lang] = words[: p["head_words_per_lang"]]
        else:
            words = _pseudo_words(rng, cons, p["head_words_per_lang"], (1, 2, 3))
            if lang == "en":
                words = np.concatenate([np.array(_EN_FUNCTION, dtype=object), words])
            head[lang] = words

    names = [w.capitalize() for w in _pseudo_words(rng, "bdgp", n_e + 60, (2, 3))]
    ents = [f"dbr:{names[i]}_{i}" for i in range(n_e)]
    ent_topics = rng.integers(0, len(topic), size=(n_e, 6))

    # surface forms: 1-3 sf tokens, every 8th one extended by a token so
    # nested forms exercise leftmost-longest overlap resolution
    sfs: list[str] = []
    seen: set[str] = set()
    while len(sfs) < n_s:
        ln = int(rng.choice([1, 2, 3], p=[0.45, 0.4, 0.15]))
        s = " ".join(sf_tokens[rng.integers(0, len(sf_tokens), size=ln)])
        if s in seen:
            continue
        seen.add(s)
        sfs.append(s)
        if len(sfs) % 8 == 0 and ln < 3:
            ext = s + " " + sf_tokens[rng.integers(0, len(sf_tokens))]
            if ext not in seen:
                seen.add(ext)
                sfs.append(ext)
    sfs = sfs[:n_s]

    # redirects: chains src -> (mid ->)* canonical entity, plus one
    # 2-cycle whose members are themselves link targets
    redirects: dict[str, str] = {}
    chain_head: dict[int, str] = {}
    k = n_e
    for c in range(p["n_chains"]):
        tgt = int(rng.integers(0, n_e))
        ln = int(rng.integers(1, 4))
        cur = ents[tgt]
        for j in range(ln):
            src = f"dbr:{names[k % len(names)]}_r{c}_{j}"
            redirects[src] = cur
            cur = src
        chain_head[tgt] = cur
        k += 1
    cyc_a, cyc_b = "dbr:Loop_a", "dbr:Loop_b"
    redirects[cyc_a], redirects[cyc_b] = cyc_b, cyc_a
    disambig = [f"dbr:{names[n_e + i]}_(disambiguation)" for i in range(p["n_disambig"])]

    # candidate sets: popular entities serve many surface forms
    ent_pop = _zipf(n_e, 0.9)
    cand_uris, cand_w, cand_ent = [], [], []
    for i in range(n_s):
        kk = int(rng.choice([1, 2, 3, 4], p=[0.5, 0.25, 0.15, 0.10]))
        ei = rng.choice(n_e, size=kk, replace=False, p=ent_pop)
        w = np.sort(rng.dirichlet(np.full(kk, 0.8)))[::-1] if kk > 1 else np.ones(1)
        uris = []
        for e in ei:
            # anchors sometimes point at a redirect instead of the entity
            if int(e) in chain_head and rng.random() < 0.5:
                uris.append(chain_head[int(e)])
            else:
                uris.append(ents[int(e)])
        ei = list(ei)
        if rng.random() < 0.08:
            uris.append(disambig[int(rng.integers(0, len(disambig)))])
            w = np.append(w * 0.9, 0.1)
            ei.append(-1)
        cand_uris.append(uris)
        cand_w.append(np.asarray(w, dtype=np.float64) / np.sum(w))
        cand_ent.append(ei)
    # the 2-cycle members are candidates of two surface forms
    for j, cu in zip(rng.choice(n_s, size=2, replace=False), (cyc_a, cyc_b)):
        cand_uris[j].append(cu)
        cand_w[j] = np.append(cand_w[j] * 0.8, 0.2)
        cand_ent[j].append(-1)

    low_prob = rng.random(n_s) < p["low_prob_sf_frac"]
    return {
        "entities": ents,
        "ent_topics": ent_topics,
        "topic": topic,
        "head": head,
        "sfs": sfs,
        "cand_uris": cand_uris,
        "cand_w": cand_w,
        "cand_ent": cand_ent,
        "low_prob": low_prob,
        "redirects": redirects,
        "canon": closure(redirects),
        "disambig": disambig,
    }


def _sample_docs(rng, world: dict, n: int, p: dict, sf_p: np.ndarray) -> dict:
    """Vectorized slot sampling for ``n`` documents: mention slots,
    topic words of each mention's entity, filler from the document's
    language and long-tail tokens, shuffled within each document."""
    lang = rng.choice(len(LANGS), size=n, p=LANG_P)
    n_m = np.maximum(1, rng.poisson(p["mentions_per_doc"], size=n))
    n_f = rng.poisson(p["filler_per_doc"], size=n)
    n_t = rng.poisson(p["tail_per_doc"], size=n)
    n_s = len(world["sfs"])

    # mentions
    m_doc = np.repeat(np.arange(n), n_m)
    m_sf = rng.choice(n_s, size=len(m_doc), p=sf_p)
    m_u = rng.random(len(m_doc))
    m_uri = np.empty(len(m_doc), dtype=object)
    m_ent = np.full(len(m_doc), -1, dtype=np.int64)
    for j, (s, u) in enumerate(zip(m_sf, m_u)):
        cw = np.cumsum(world["cand_w"][s])
        c = min(int(np.searchsorted(cw, u * cw[-1], side="right")), len(cw) - 1)
        m_uri[j] = world["cand_uris"][s][c]
        m_ent[j] = world["cand_ent"][s][c]
    # two topic words of the mention's entity travel with it
    has_ent = m_ent >= 0
    t_src = np.repeat(np.flatnonzero(has_ent), 2)
    t_doc = m_doc[t_src]
    t_word = world["topic"][
        world["ent_topics"][m_ent[t_src], rng.integers(0, 6, size=len(t_src))]
    ]
    # filler: Zipf over the document language's head vocabulary, plus
    # a sprinkle of markup-sensitive symbols
    f_doc = np.repeat(np.arange(n), n_f)
    f_lang = lang[f_doc]
    f_word = np.empty(len(f_doc), dtype=object)
    for li, lg in enumerate(LANGS):
        sel = f_lang == li
        words = world["head"][lg]
        f_word[sel] = words[rng.choice(len(words), size=int(sel.sum()), p=_zipf(len(words), 1.0))]
    sym = rng.random(len(f_doc)) < 0.01
    f_word[sym] = np.array(_SYMBOLS, dtype=object)[rng.integers(0, len(_SYMBOLS), size=int(sym.sum()))]
    f_sym = sym & np.isin(f_word, [s for s in _SYMBOLS if s != _escape(s)])
    # long tail
    tl_doc = np.repeat(np.arange(n), n_t)
    tl_word = _tail_tokens(rng.integers(0, p["tail_pool"], size=len(tl_doc)))

    m_str = np.array([" ".join(w.capitalize() for w in world["sfs"][s].split(" ")) for s in m_sf],
                     dtype=object)
    # words per page: a surface form counts one word per token
    sf_words = np.array([s.count(" ") + 1 for s in world["sfs"]], dtype=np.int64)
    words = np.bincount(m_doc, weights=sf_words[m_sf], minlength=n) + np.bincount(
        t_doc, minlength=n) + n_f + n_t
    slot_doc = np.concatenate([m_doc, t_doc, f_doc, tl_doc])
    slot_str = np.concatenate([m_str, t_word, f_word, tl_word])
    slot_m = np.concatenate([np.arange(len(m_doc)), np.full(len(slot_doc) - len(m_doc), -1)])
    # only the markup-sensitive filler symbols need html escaping
    slot_esc = np.concatenate([np.zeros(len(m_doc) + len(t_doc), dtype=bool), f_sym,
                               np.zeros(len(tl_doc), dtype=bool)])
    order = np.lexsort((rng.random(len(slot_doc)), slot_doc))
    slot_doc, slot_str, slot_m = slot_doc[order], slot_str[order], slot_m[order]
    slot_esc = slot_esc[order]

    # exact char offsets: slots are joined by single spaces
    lens = np.fromiter((len(s) for s in slot_str), dtype=np.int64, count=len(slot_str)) + 1
    bounds = np.searchsorted(slot_doc, np.arange(n + 1))
    cum = np.concatenate([[0], np.cumsum(lens)])
    start = cum[:-1] - cum[bounds[slot_doc]]
    return {
        "lang": lang, "slot_doc": slot_doc, "slot_str": slot_str, "slot_m": slot_m,
        "slot_esc": slot_esc,
        "start": start, "lens": lens - 1, "bounds": bounds,
        "m_sf": m_sf, "m_uri": m_uri, "m_doc": m_doc,
        "tail_words": tl_word, "tail_doc": tl_doc,
        "tail_share": float(np.mean(n_t / np.maximum(1, words))),
    }


def make_wiki(rng, world: dict) -> tuple[pd.DataFrame, dict]:
    p = WIKI
    n = p["n_docs"]
    sf_p = _zipf_for_share(len(world["sfs"]), p["mentions_per_doc"], p["top_sf_doc_share"])
    d = _sample_docs(rng, world, n, p, sf_p)
    link_p = np.where(world["low_prob"][d["m_sf"]], p["low_prob_link_p"], p["link_p"])
    linked = rng.random(len(d["m_sf"])) < link_p
    texts, links = [], []
    for i in range(n):
        a, b = d["bounds"][i], d["bounds"][i + 1]
        texts.append(" ".join(d["slot_str"][a:b]))
        doc_links = []
        for j in range(a, b):
            m = d["slot_m"][j]
            if m >= 0 and linked[m]:
                s = int(d["start"][j])
                doc_links.append({
                    "start": s, "end": s + int(d["lens"][j]),
                    "surface_form": d["slot_str"][j], "uri": d["m_uri"][m],
                })
        links.append(doc_links)
    df = pd.DataFrame({"doc_id": np.arange(n, dtype=np.int64), "text": texts, "links": links})
    top = int(np.argmax(sf_p))
    docs_with_top = np.unique(d["m_doc"][d["m_sf"] == top])
    vocab = set(d["slot_str"][d["slot_m"] < 0]) | set(
        w.lower() for s in world["sfs"] for w in s.split(" "))
    props = {
        "docs": n,
        "links": int(linked.sum()),
        "top_sf_doc_share": round(len(docs_with_top) / n, 4),
        "distinct_tokens": len(vocab),
        "tail_token_share": round(d["tail_share"], 4),
        "vocab_fits_stem_memo": len(vocab) < STEM_MEMO_BOUND,
    }
    return df, props


_HEAD = ('<!DOCTYPE html><html lang="{lang}"><head><meta charset="utf-8">'
         '<title>{title}</title><style>p{{margin:0}}</style>'
         '<script>var wgPage="{title}";</script></head>')
_OPEN = (["", "<b>", "<i>"] + [f'<a href="/wiki/Topic_{k}" title="t{k}">' for k in range(5)]
         + [f'<span class="s{k}">' for k in range(4)])
_CLOSE = ["", "</b>", "</i>"] + ["</a>"] * 5 + ["</span>"] * 4
_OPEN_P = np.array([0.6, 0.1, 0.05] + [0.03] * 5 + [0.025] * 4)


def _render_pages(rng, world: dict, d: dict, url_prefix: str, ids: np.ndarray,
                  ts: str) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Slots -> pages(url, warc_ts, html, text, lang) with markup-heavy
    html (inline tags, paragraph breaks, word-internal <wbr>, escaped
    &<>) that extracts byte-identically to ``text``, plus gold pairs."""
    n = len(d["bounds"]) - 1
    k = len(d["slot_str"])
    tok = d["slot_str"].copy()
    esc = d["slot_esc"]
    tok[esc] = [_escape(s) for s in tok[esc]]
    wbr = (rng.random(k) < 0.02) & (d["lens"] > 3) & ~esc
    tok[wbr] = [s[:2] + "<wbr>" + s[2:] for s in tok[wbr]]
    w = rng.choice(len(_OPEN), size=k, p=_OPEN_P / _OPEN_P.sum())
    first = np.zeros(k, dtype=bool)
    first[d["bounds"][:-1][d["bounds"][:-1] < k]] = True
    para = (rng.random(k) < 0.05) & ~first
    opens = np.array(_OPEN, dtype=object)[w]
    opens[para] = "</p><!-- br --><p>" + opens[para]
    piece = opens + tok + np.array(_CLOSE, dtype=object)[w]
    urls = np.array([f"{url_prefix}{i}" for i in ids], dtype=object)
    langs = LANGS[d["lang"]]
    htmls, texts = [], []
    for i in range(n):
        a, b = d["bounds"][i], d["bounds"][i + 1]
        title = _escape(d["slot_str"][a]).replace('"', "") if b > a else ""
        htmls.append((_HEAD.format(lang=langs[i], title=title)
                      + '<body class="mw-body"><div id="content"><p>'
                      + " ".join(piece[a:b])
                      + "</p></div><!-- footer --></body></html>").encode("utf-8"))
        texts.append(" ".join(d["slot_str"][a:b]))
    pages = pd.DataFrame({
        "url": urls,
        "warc_ts": pd.Timestamp(ts),
        "html": htmls,
        "text": texts,
        "lang": langs,
    })
    canon, dis = world["canon"], set(world["disambig"])
    keep = ~world["low_prob"][d["m_sf"]]
    gold = pd.DataFrame({
        "url": urls[d["m_doc"][keep]],
        "uri": [canon.get(u, u) for u in d["m_uri"][keep]],
    })
    gold = gold[~gold["uri"].isin(dis)].drop_duplicates().reset_index(drop=True)
    return pages, gold


def _tail_per_worker(d: dict, n_docs: int, cores: int) -> int:
    """Distinct long-tail tokens in the smallest of ``cores`` contiguous
    page shares: what one Python worker sees in one pass over all
    batches."""
    parts = np.array_split(np.arange(n_docs), cores)
    out = []
    for part in parts:
        sel = (d["tail_doc"] >= part[0]) & (d["tail_doc"] <= part[-1])
        out.append(len(pd.unique(d["tail_words"][sel])))
    return min(out)


def make_pages(rng, world: dict, p: dict, url_prefix: str, cores: int) -> tuple:
    sf_p = _zipf_for_share(len(world["sfs"]), p["mentions_per_doc"], 0.2)
    d = _sample_docs(rng, world, p["n_docs"], p, sf_p)
    pages, gold = _render_pages(rng, world, d, url_prefix, np.arange(p["n_docs"]),
                                "2026-01-01 00:00:00")
    per_worker = _tail_per_worker(d, p["n_docs"], cores)
    props = {
        "docs": p["n_docs"],
        "batches": p["batches"],
        "gold_pairs": len(gold),
        "langs": sorted(pages["lang"].unique().tolist()),
        "tail_token_share": round(d["tail_share"], 4),
        "tail_tokens_per_worker": per_worker,
        "tail_per_worker_over_memo_bound": round(per_worker / STEM_MEMO_BOUND, 3),
    }
    return pages, gold, props


_KG_PREFIX = "https://kg.example/p/"


def make_base(rng, world: dict, out: str) -> dict:
    """The corpus behind the first refresh snapshot."""
    p = REFRESH
    sf_p = _zipf_for_share(len(world["sfs"]), p["mentions_per_doc"], 0.2)
    d = _sample_docs(rng, world, p["n_base"], p, sf_p)
    base, base_gold = _render_pages(rng, world, d, _KG_PREFIX, np.arange(p["n_base"]),
                                    "2026-01-01 00:00:00")
    _write(base, os.path.join(out, "base"), files=16)
    _write(base_gold, os.path.join(out, "base_gold"))
    return {"base_docs": p["n_base"], "base_gold_pairs": len(base_gold),
            "tail_token_share": round(d["tail_share"], 4)}


def make_deltas(rng, world: dict, base_dir: str, out: str) -> dict:
    """``n_cycles`` crawl deltas over the base corpus. Delta k is drawn
    from the live url set after deltas 1..k-1 (mix: re-fetched
    unchanged, re-fetched changed, new url, tombstone). Each cycle's
    gold covers every url in its delta, so gold merges per url like the
    triples."""
    p = REFRESH
    sf_p = _zipf_for_share(len(world["sfs"]), p["mentions_per_doc"], 0.2)
    prefix = _KG_PREFIX
    base = pq.read_table(os.path.join(base_dir, "base")).to_pandas()
    base_gold = pq.read_table(os.path.join(base_dir, "base_gold")).to_pandas()
    live = {r.url: r for r in base.itertuples(index=False)}
    gold = base_gold.groupby("url", sort=False)["uri"].apply(list).to_dict()
    next_id = p["n_base"]
    n_delta = max(4, int(round(p["n_base"] * p["delta_frac"])))
    counts = np.zeros(4, dtype=np.int64)
    shares = []
    for k in range(1, p["n_cycles"] + 1):
        ts = f"2026-01-{1 + k % 28:02d} 00:00:00"
        kinds = rng.choice(4, size=n_delta, p=p["mix"])
        counts += np.bincount(kinds, minlength=4)
        old_kinds = kinds[kinds != 2]
        urls = list(live)
        picked = [urls[i] for i in rng.choice(len(urls), size=len(old_kinds), replace=False)]
        unchanged = [u for u, t in zip(picked, old_kinds) if t == 0]
        changed = [u for u, t in zip(picked, old_kinds) if t == 1]
        gone = [u for u, t in zip(picked, old_kinds) if t == 3]
        n_fresh = len(changed) + int((kinds == 2).sum())
        dn = _sample_docs(rng, world, n_fresh, p, sf_p)
        shares.append(dn["tail_share"])
        ids = np.arange(next_id, next_id + n_fresh)
        next_id += n_fresh
        fresh, fresh_gold = _render_pages(rng, world, dn, prefix, ids, ts)
        # changed pages keep their url; new pages keep the fresh one
        rename = dict(zip(fresh["url"][: len(changed)], changed))
        fresh["url"] = fresh["url"].map(lambda u: rename.get(u, u))
        fresh_gold["url"] = fresh_gold["url"].map(lambda u: rename.get(u, u))
        same = pd.DataFrame([live[u] for u in unchanged], columns=base.columns)
        same["warc_ts"] = pd.Timestamp(ts)
        delta = pd.concat([same, fresh], ignore_index=True)
        same_gold = pd.DataFrame(
            [(u, g) for u in unchanged for g in gold.get(u, [])], columns=["url", "uri"])
        cdir = os.path.join(out, f"cycle_{k}")
        _write(delta, os.path.join(cdir, "pages"))
        _write(pd.DataFrame({"url": pd.Series(gone, dtype=object)}), os.path.join(cdir, "gone"))
        _write(pd.concat([same_gold, fresh_gold], ignore_index=True), os.path.join(cdir, "gold"))
        for r in fresh.itertuples(index=False):
            live[r.url] = r
            gold.pop(r.url, None)
        for u, g in fresh_gold.groupby("url", sort=False)["uri"]:
            gold[u] = list(g)
        for u in gone:
            live.pop(u)
            gold.pop(u, None)
    return {
        "delta_docs": n_delta,
        "cycles": p["n_cycles"],
        "snapshot_to_delta_docs": round(p["n_base"] / n_delta, 1),
        "delta_mix": dict(zip(["unchanged", "changed", "new", "tombstone"],
                              np.round(counts / counts.sum(), 3).tolist())),
        "fresh_tail_token_share": round(float(np.mean(shares)), 4),
    }


def _write(df: pd.DataFrame, path: str, files: int = 1) -> None:
    """One parquet table; ``files`` > 1 splits it so a scan is parallel."""
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pandas(df, preserve_index=False)
    step = -(-len(df) // files) if len(df) else 1
    for i, a in enumerate(range(0, max(1, len(df)), step)):
        pq.write_table(table.slice(a, step), os.path.join(path, f"part-{i}.parquet"))


SEEDED = {"world": False, "warm": False, "pages": True, "base": False, "deltas": True}


def cache_key(seed: int, part: str, cores: int) -> str:
    """Hash of what the part is drawn from: its seed and parameters."""
    seed = seed if SEEDED[part] else WORLD_SEED
    params = {"v": GEN_VERSION, "seed": seed, "world_seed": WORLD_SEED, "part": part,
              "world": WORLD, "wiki": [WIKI, PROBE] if part == "world" else None,
              "pages": [PAGES, cores] if part == "pages" else None,
              "warm": [WARM, cores] if part == "warm" else None,
              "refresh": REFRESH if part in ("base", "deltas") else None}
    h = hashlib.sha256(json.dumps(params, sort_keys=True).encode()).hexdigest()[:16]
    return f"{part}-s{seed}-{h}"


def _part_rng(seed: int, part: str):
    # one independent stream per part, so generating 'pages' never
    # shifts the draws behind 'deltas' for the same seed
    return np.random.default_rng([seed, sum(map(ord, part))])


def ensure(cache: str, seed: int, part: str, cores: int) -> tuple[str, dict]:
    """Generate (or reuse) one input part; returns (dir, properties).
    Parts that are not seeded ignore ``seed`` and draw from WORLD_SEED."""
    if part == "deltas":
        base_dir, _ = ensure(cache, seed, "base", cores)
    d = os.path.join(cache, cache_key(seed, part, cores))
    props_path = os.path.join(d, "properties.json")
    if os.path.exists(props_path):
        with open(props_path) as f:
            return d, json.load(f)
    seed = seed if SEEDED[part] else WORLD_SEED
    tmp = f"{d}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    world = make_world(np.random.default_rng([WORLD_SEED, 0]))
    rng = _part_rng(seed, part)
    if part == "world":
        wiki, props = make_wiki(rng, world)
        _write(wiki, os.path.join(tmp, "wiki"))
        _write(pd.DataFrame({"src_uri": list(world["redirects"]),
                             "dst_uri": list(world["redirects"].values())}),
               os.path.join(tmp, "redirects"))
        _write(pd.DataFrame({"uri": world["disambig"]}), os.path.join(tmp, "disambiguations"))
        probe, _, _ = make_pages(rng, world, PROBE, "https://probe.example/p/", cores)
        _write(probe, os.path.join(tmp, "probe"))
        props.update({"redirects": len(world["redirects"]),
                      "redirect_sources_resolved": len(world["canon"]),
                      "disambiguations": len(world["disambig"]),
                      "surface_forms": len(world["sfs"]),
                      "entities": len(world["entities"]),
                      "ambiguous_surface_forms": int(sum(len(c) > 1 for c in world["cand_uris"]))})
    elif part == "pages":
        pages, gold, props = make_pages(rng, world, PAGES, "https://web.example/d/", cores)
        for b, batch in enumerate(np.array_split(np.arange(len(pages)), PAGES["batches"])):
            _write(pages.iloc[batch], os.path.join(tmp, "pages", f"batch_{b}"), files=8)
        _write(gold, os.path.join(tmp, "pages_gold"))
    elif part == "warm":
        p = dict(WARM, n_docs=WARM["docs_per_worker"] * cores)
        pages, _, props = make_pages(rng, world, p, "https://warm.example/w/", cores)
        _write(pages[["url", "warc_ts", "html", "text", "lang"]], os.path.join(tmp, "warm"),
               files=cores)
    elif part == "base":
        props = make_base(rng, world, tmp)
    elif part == "deltas":
        props = make_deltas(rng, world, base_dir, tmp)
    else:
        raise ValueError(f"unknown input part {part!r}")
    props["seed"] = seed
    with open(os.path.join(tmp, "properties.json"), "w") as f:
        json.dump(props, f, indent=1, sort_keys=True)
    shutil.rmtree(d, ignore_errors=True)
    os.replace(tmp, d)
    return d, props
