"""The benchmark workloads. Each is a batch job run by one client in a
closed loop (the next job starts when the previous one ends):

- ``annotate``: pages -> triples with prebuilt stores (read path);
- ``refresh``:  crawl delta -> fused annotate -> merge -> new snapshot (write path).

The offline store build (the shuffle path) runs as input prep, and a
traced ``annotate`` run rebuilds the stores once more under spans, so
its layers are measured without a closed loop of their own.

A workload supplies ``prep`` (input prep that needs Spark, run in a
process of its own so no set-up starts from a warmed JVM; its outputs
are cached per code version and excluded from every metric), ``setup``
(repeated per set-up, timed into ``setup_s``), ``job`` (one
closed-loop job, optionally traced), ``gate`` (correctness checks) and
the pages + model for the kernel replay.
Every call into the package is one of the public calls the jobs/
entrypoints make; spans wrap them from outside.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time

import pandas as pd
import pyarrow.parquet as pq

import gen
from harness import Tracer

STORE_TABLES = ("entities", "surface_forms", "candidate_map", "tokens",
                "context_counts", "entity_vectors", "icf")
# dependency waves for forcing the store tables (bench.py --leg-stores)
WAVES = (("entities", "surface_forms", "tokens"),
         ("candidate_map", "context_counts"),
         ("icf", "entity_vectors"))
QUALITY_FLOOR = 0.5  # precision and recall below this fail the gate


def read_triples(path: str) -> set[tuple]:
    t = pq.read_table(path, columns=["subj", "pred", "obj"])
    return set(zip(*(t.column(c).to_pylist() for c in ("subj", "pred", "obj"))))


def set_digest(rows) -> str:
    h = hashlib.sha256()
    for r in sorted(map(repr, rows)):
        h.update(r.encode())
    return h.hexdigest()[:16]


def score(triples: set[tuple], gold: pd.DataFrame) -> tuple[float, float]:
    from dbpedia_spotlight_db_spark.plans.materialize import PRED_MENTIONS

    pred = {(s, o) for s, p, o in triples if p == PRED_MENTIONS}
    want = set(zip(gold["url"], gold["uri"]))
    hit = len(pred & want)
    return hit / max(1, len(pred)), hit / max(1, len(want))


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def load_model(spark, wh: str, tracer: Tracer, timings: dict):
    """Stores + broadcast model from a store warehouse, the way
    jobs/annotate.py loads them (plus the disambiguation table)."""
    from pyspark.sql import functions as F

    from dbpedia_spotlight_db_spark.plans.annotate_fused import build_model
    from dbpedia_spotlight_db_spark.sources import catalog

    t0 = time.perf_counter()
    with tracer.span("catalog.load"):
        stores = {name: catalog.load(spark, name, wh) for name in STORE_TABLES}
        stores["max_sf_tokens"] = (
            stores["surface_forms"].select(F.max(F.size(F.split("surface_form", " "))))
            .collect()[0][0])
        redirects = catalog.load(spark, "redirects", wh)
        disamb = catalog.load(spark, "disambiguations", wh)
    t1 = time.perf_counter()
    with tracer.span("annotate_fused.build_model"):
        model = build_model(stores, redirects, disamb)
        model_bc = spark.sparkContext.broadcast(model)
    t2 = time.perf_counter()
    timings["catalog.load_s"] = t1 - t0
    timings["annotate_fused.build_model_s"] = t2 - t1
    return stores, redirects, disamb, model, model_bc


def force_stores(spark, stores: dict, tracer: Tracer) -> None:
    """Materialize the store tables wave by wave, concurrently within a
    wave; traced, each table's jobs carry the tag build_stores.<table>."""
    from concurrent.futures import ThreadPoolExecutor

    sc = spark.sparkContext

    def count(name: str) -> int:
        if tracer.enabled:
            sc.setJobDescription(f"build_stores.{name}")
        return stores[name].count()

    for w, wave in enumerate(WAVES, 1):
        with tracer.span(f"build_stores.wave{w}"), ThreadPoolExecutor(len(wave)) as ex:
            list(ex.map(count, wave))


def build_warehouse(spark, wiki_path: str, out: str, world_dir: str,
                    tracer: Tracer | None = None) -> None:
    """Store warehouse the way jobs/build_stores.py writes it."""
    from jobs.build_stores import STORE_BUCKET_KEYS

    from dbpedia_spotlight_db_spark.plans.build_stores import build_stores
    from dbpedia_spotlight_db_spark.sources import catalog

    tracer = tracer or Tracer(None, False)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    with tracer.span("build_stores.build_stores", "build_stores.input"):
        stores = build_stores(spark, spark.read.parquet(wiki_path), checkpoint=True)
    force_stores(spark, stores, tracer)
    with tracer.span("catalog.save_bucketed"):
        for name, key in STORE_BUCKET_KEYS.items():
            catalog.save_bucketed(stores[name], name, tmp, key, n_buckets=8)
    for name in ("redirects", "disambiguations"):
        catalog.save(spark.read.parquet(os.path.join(world_dir, name)), name, tmp)
    spark.catalog.clearCache()
    os.replace(tmp, out)


def table_digests(root: str) -> dict[str, str]:
    out = {}
    for name in STORE_TABLES:
        t = pq.read_table(os.path.join(root, name))
        rows = zip(*(t.column(c).to_pylist() for c in sorted(t.column_names)))
        out[name] = set_digest(rows)
    return out


class Workload:
    name = ""
    parts: tuple[str, ...] = ()
    # the first warm_jobs jobs of the closed loop still build per-worker
    # state and JIT-compile the job's code paths: they are reported but
    # left out of the medians, which take the jobs after them
    warm_jobs = 1
    # the closed loop runs at least this many jobs
    min_jobs = 3

    def __init__(self, rd, seed: int, cores: int):
        self.rd, self.seed, self.cores = rd, seed, cores
        self.inputs: dict[str, str] = {}
        self.props: dict[str, dict] = {}
        self.timings: dict[str, float] = {}
        self.outputs: list[str] = []
        self.precision = self.recall = 0.0

    def generate(self) -> None:
        for part in self.parts:
            d, p = gen.ensure(self.rd.cache, self.seed, part, self.cores)
            self.inputs[part], self.props[part] = d, p
        # what the package derives from the fixed world, for this code version
        self.derived = os.path.join(self.rd.derived, os.path.basename(self.inputs["world"]))
        self.warehouse = os.path.join(self.derived, "warehouse")

    def needs_prep(self) -> bool:
        return not os.path.exists(self.warehouse)

    def prep(self, spark) -> None:
        world = self.inputs["world"]
        if not os.path.exists(self.warehouse):
            build_warehouse(spark, os.path.join(world, "wiki"), self.warehouse, world)

    def job_path(self, kind: str, i: int) -> str:
        root = self.rd.ckpt if kind == "ckpt" else self.rd.warehouse
        return os.path.join(root, f"job{i}")


class Annotate(Workload):
    """Read path: prebuilt stores, pages -> triples -> catalog.save. Set-up
    fills every Python worker's stem memo with the warm pages; jobs take
    the page batches in turn, and a batch is annotated again from its
    second round on."""

    name = "annotate"
    parts = ("world", "warm", "pages")

    @property
    def min_jobs(self) -> int:
        # every batch once, and the first one again for the repeat check
        return max(Workload.min_jobs, self.props["pages"]["batches"] + 1)

    def _batch_path(self, b: int) -> str:
        return os.path.join(self.inputs["pages"], "pages", f"batch_{b}")

    def _read_pages(self, columns=None) -> pd.DataFrame:
        n = self.props["pages"]["batches"]
        return pd.concat([pq.read_table(self._batch_path(b), columns=columns).to_pandas()
                          for b in range(n)], ignore_index=True)

    def setup(self, spark, tracer: Tracer) -> None:
        from dbpedia_spotlight_db_spark.plans.annotate import AnnotateConfig
        from dbpedia_spotlight_db_spark.plans.annotate_fused import annotate_mention_pairs

        self.spark = spark
        (self.stores, self.redirects, self.disamb, self.model,
         self.model_bc) = load_model(spark, self.warehouse, tracer, self.timings)
        n = self.props["pages"]["batches"]
        self.batches = [spark.read.parquet(self._batch_path(b)) for b in range(n)]
        self.docs = self.props["pages"]["docs"] // n
        t0 = time.perf_counter()
        # Python worker spawn, model delivery and stem-memo fill: the fused
        # pass over the warm pages, one share per core, so the shares run
        # at once and each lands in a worker of its own
        warm = (spark.read.parquet(os.path.join(self.inputs["warm"], "warm"))
                .repartition(self.cores))
        noop(annotate_mention_pairs(spark, warm, self.stores, AnnotateConfig(), self.model_bc))
        self.timings["session.warm_s"] = time.perf_counter() - t0

    def job(self, i: int, tracer: Tracer) -> dict:
        from dbpedia_spotlight_db_spark.entrypoint import annotate_to_triples
        from dbpedia_spotlight_db_spark.plans.annotate import AnnotateConfig
        from dbpedia_spotlight_db_spark.plans.annotate_fused import annotate_mention_pairs
        from dbpedia_spotlight_db_spark.sources import catalog

        pages = self.batches[i % len(self.batches)]
        ck, out = self.job_path("ckpt", i), self.job_path("out", i)
        if tracer.enabled:
            # the map pass alone, forced into a no-op sink
            with tracer.span("annotate_fused.annotate_mention_pairs", "annotate_fused"):
                noop(annotate_mention_pairs(self.spark, pages, self.stores,
                                            AnnotateConfig(), self.model_bc))
        t0 = time.perf_counter()
        with tracer.span("entrypoint.annotate_to_triples", "materialize"):
            triples = annotate_to_triples(self.spark, pages, self.stores,
                                          model_bc=self.model_bc, checkpoint_path=ck)
        t1 = time.perf_counter()
        if tracer.enabled:
            with tracer.span("materialize.triples", "materialize"):
                noop(triples)
        t2 = time.perf_counter()
        with tracer.span("catalog.save", "catalog"):
            catalog.save(triples, "triples", out)
        t3 = time.perf_counter()
        self.outputs.append(out)
        return {"docs": self.docs, "real_s": (t1 - t0) + (t3 - t2),
                "parts_s": {"annotate": t1 - t0, "save": t3 - t2}}

    def after_job(self, i: int, tracer: Tracer) -> None:
        shutil.rmtree(self.job_path("ckpt", i), ignore_errors=True)

    def gate(self) -> list[tuple[str, bool, str]]:
        from dbpedia_spotlight_db_spark.functions.text import extract_text

        checks = []
        n = len(self.batches)
        sets = [read_triples(os.path.join(p, "triples")) for p in self.outputs]
        # job i annotated batch i % n: every batch's repeats must agree
        digests = [{set_digest(s) for s in sets[b::n]} for b in range(n)]
        checks.append(("repeat_digest", all(len(d) == 1 for d in digests) and all(sets),
                       f"{len(sets)} jobs over {n} batches, digests {[sorted(d) for d in digests]}"))
        gold = pq.read_table(os.path.join(self.inputs["pages"], "pages_gold")).to_pandas()
        self.precision, self.recall = score(set().union(*sets[:n]), gold)
        checks.append(("quality_floor", min(self.precision, self.recall) >= QUALITY_FLOOR,
                       f"precision {self.precision:.4f} recall {self.recall:.4f}"))
        pages = self._read_pages()
        same = int((extract_text.func(pages["html"]) == pages["text"]).sum())
        checks.append(("html_extracts_to_text", same == len(pages),
                       f"{same} of {len(pages)} pages extract byte-identically"))
        checks.append(self.fused_equals_relational())
        return checks

    def fused_equals_relational(self) -> tuple[str, bool, str]:
        """The fused path's triples on the fixed probe slice against the
        relational path's (tests/test_fused.py's equality, this world).
        The relational reference is computed once per code version."""
        from dbpedia_spotlight_db_spark import schemas
        from dbpedia_spotlight_db_spark.entrypoint import annotate_to_triples
        from dbpedia_spotlight_db_spark.plans.annotate import AnnotateConfig, annotate
        from dbpedia_spotlight_db_spark.plans.materialize import (
            canonical_annotations,
            materialize_triples,
        )
        from dbpedia_spotlight_db_spark.sources import catalog

        spark, world = self.spark, self.inputs["world"]
        probe = spark.createDataFrame(
            pq.read_table(os.path.join(world, "probe")).to_pandas()[schemas.PAGES.fieldNames()],
            schema=schemas.PAGES)
        fused = {tuple(r) for r in annotate_to_triples(
            spark, probe, self.stores, model_bc=self.model_bc).collect()}
        ref = os.path.join(self.derived, "probe_relational")
        if not os.path.exists(ref):
            shutil.rmtree(ref + ".tmp", ignore_errors=True)
            canon = canonical_annotations(annotate(spark, probe, self.stores, AnnotateConfig()),
                                          self.redirects, self.disamb).persist()
            catalog.save(materialize_triples(canon, self.stores["entities"]), "triples", ref + ".tmp")
            canon.unpersist()
            os.replace(ref + ".tmp", ref)
        rel = read_triples(os.path.join(ref, "triples"))
        return ("fused_equals_relational", fused == rel and bool(fused),
                f"{len(fused)} fused vs {len(rel)} relational triples")

    def trace_extra(self, tracer: Tracer) -> list[tuple[str, bool, str]]:
        """Rebuild the store warehouse under spans (the shuffle-path
        layers) and check it equals the one the set-ups loaded."""
        world = self.inputs["world"]
        out = os.path.join(self.rd.warehouse, "stores")
        build_warehouse(self.spark, os.path.join(world, "wiki"), out, world, tracer)
        want = table_digests(self.warehouse)
        bad = [n for n, d in table_digests(out).items() if d != want[n]]
        return [("stores_repeat_digest", not bad, f"tables differing from the prep build: {bad}")]

    def replay_input(self):
        """One worker's share of the warm pages, then timed pages."""
        warm = pq.read_table(os.path.join(self.inputs["warm"], "warm"), columns=["html"])
        share = warm.num_rows // self.cores
        return (warm.slice(0, share).to_pandas()["html"],
                self._read_pages(["url", "html"]), self.model)


class Refresh(Workload):
    """Write path: crawl delta -> fused annotate -> merge_triples ->
    new snapshot, each cycle reading the snapshot the previous wrote."""

    name = "refresh"
    parts = ("world", "base", "deltas")
    # a cycle's merge and save paths take about two cycles to compile,
    # and cycles are short and jittery: four samples after them
    warm_jobs = 2
    min_jobs = 6
    rows: list[tuple[int, int]]

    def generate(self) -> None:
        super().generate()
        self.snapshot0 = os.path.join(self.derived,
                                      "snapshot0-" + os.path.basename(self.inputs["base"]))

    def needs_prep(self) -> bool:
        return super().needs_prep() or not os.path.exists(self.snapshot0)

    def prep(self, spark) -> None:
        super().prep(spark)
        from dbpedia_spotlight_db_spark.entrypoint import annotate_to_triples
        from dbpedia_spotlight_db_spark.sources import catalog

        if os.path.exists(self.snapshot0):
            return
        stores, _, _, _, model_bc = load_model(spark, self.warehouse, Tracer(None, False), {})
        base = spark.read.parquet(os.path.join(self.inputs["base"], "base"))
        tmp = self.snapshot0 + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        catalog.save(annotate_to_triples(spark, base, stores, model_bc=model_bc), "triples", tmp)
        spark.catalog.clearCache()
        os.replace(tmp, self.snapshot0)

    def setup(self, spark, tracer: Tracer) -> None:
        from dbpedia_spotlight_db_spark.plans.annotate import AnnotateConfig
        from dbpedia_spotlight_db_spark.plans.annotate_fused import annotate_mention_pairs
        from dbpedia_spotlight_db_spark.sources import catalog

        self.spark = spark
        self.rows = []
        (self.stores, self.redirects, self.disamb, self.model,
         self.model_bc) = load_model(spark, self.warehouse, tracer, self.timings)
        t0 = time.perf_counter()
        with tracer.span("catalog.load_snapshot"):
            catalog.load(spark, "triples", self.snapshot0).count()
        self.timings["catalog.load_s"] += time.perf_counter() - t0
        self.prev = self.snapshot0
        t0 = time.perf_counter()
        # Python worker spawn and model delivery: the fused pass over delta 1,
        # one share per core, so every worker a cycle's task may land on
        # holds the model
        pages = (spark.read.parquet(os.path.join(self.inputs["deltas"], "cycle_1", "pages"))
                 .repartition(self.cores))
        noop(annotate_mention_pairs(spark, pages, self.stores, AnnotateConfig(), self.model_bc))
        self.timings["session.warm_s"] = time.perf_counter() - t0

    def _cycle(self, k: int, prev: str, out: str, tracer: Tracer) -> None:
        from pyspark.sql import functions as F

        from jobs.refresh import merge_triples

        from dbpedia_spotlight_db_spark.entrypoint import annotate_to_triples
        from dbpedia_spotlight_db_spark.sources import catalog

        cdir = os.path.join(self.inputs["deltas"], f"cycle_{k}")
        spark = self.spark
        base = catalog.load(spark, "triples", prev)
        pages = spark.read.parquet(os.path.join(cdir, "pages"))
        gone = spark.read.parquet(os.path.join(cdir, "gone")).select(F.col("url").alias("subj"))
        # untraced, the save runs the whole lazy cycle; traced, annotate and
        # merge are persisted and forced inside their own spans, so each
        # span (and each tag's event-log counters) holds only its layer
        with tracer.span("entrypoint.annotate_to_triples", "annotate_fused"):
            fresh = annotate_to_triples(spark, pages, self.stores, model_bc=self.model_bc)
            if tracer.enabled:
                fresh = fresh.persist()
                noop(fresh)
        with tracer.span("jobs.refresh.merge_triples", "refresh.merge"):
            merged = merge_triples(base, fresh, pages.select(F.col("url").alias("subj")), gone)
            if tracer.enabled:
                merged = merged.persist()
                noop(merged)
        with tracer.span("catalog.save", "catalog"):
            catalog.save(merged, "triples", out)
        if tracer.enabled:
            merged.unpersist()
            fresh.unpersist()

    def job(self, i: int, tracer: Tracer) -> dict:
        k = i + 1
        if k > gen.REFRESH["n_cycles"]:
            raise RuntimeError("ran out of pre-generated crawl deltas")
        out = self.job_path("out", i)
        t0 = time.perf_counter()
        self._cycle(k, self.prev, out, tracer)
        real_s = time.perf_counter() - t0
        self.outputs.append(out)
        self.prev = out
        # the delta's records: its pages (one file each) and its tombstones
        cdir = os.path.join(self.inputs["deltas"], f"cycle_{k}")
        n = sum(pq.read_metadata(os.path.join(cdir, t, "part-0.parquet")).num_rows
                for t in ("pages", "gone"))
        return {"docs": n, "real_s": real_s}

    def after_job(self, i: int, tracer: Tracer) -> None:
        if tracer.enabled:
            self.rows.append(self.refresh_rows(i))
        # keep the snapshot the next cycle reads, drop the older ones
        if i >= 1:
            shutil.rmtree(self.outputs[i - 1], ignore_errors=True)

    def final_state(self) -> tuple[pd.DataFrame, pd.DataFrame]:
        """Pages and gold of the corpus after the executed cycles."""
        base, deltas = self.inputs["base"], self.inputs["deltas"]
        pages = pq.read_table(os.path.join(base, "base")).to_pandas().set_index("url")
        gold = pq.read_table(os.path.join(base, "base_gold")).to_pandas()
        for k in range(1, len(self.outputs) + 1):
            cdir = os.path.join(deltas, f"cycle_{k}")
            delta = pq.read_table(os.path.join(cdir, "pages")).to_pandas().set_index("url")
            gone = set(pq.read_table(os.path.join(cdir, "gone")).column("url").to_pylist())
            drop = set(delta.index) | gone
            pages = pd.concat([pages[~pages.index.isin(drop)], delta])
            cg = pq.read_table(os.path.join(cdir, "gold")).to_pandas()
            gold = pd.concat([gold[~gold["url"].isin(drop)], cg], ignore_index=True)
        return pages.reset_index(), gold

    def gate(self) -> list[tuple[str, bool, str]]:
        from dbpedia_spotlight_db_spark import schemas
        from dbpedia_spotlight_db_spark.entrypoint import annotate_to_triples

        pages, gold = self.final_state()
        snap = read_triples(os.path.join(self.outputs[-1], "triples"))
        self.precision, self.recall = score(snap, gold)
        final = self.spark.createDataFrame(pages[schemas.PAGES.fieldNames()],
                                           schema=schemas.PAGES)
        scratch = {tuple(r) for r in annotate_to_triples(
            self.spark, final, self.stores, model_bc=self.model_bc).collect()}
        # fused_equals_relational runs in the annotate gate: same probe, same path
        return [
            ("snapshot_equals_scratch", snap == scratch and bool(snap),
             f"{len(self.outputs)} cycles: snapshot {len(snap)} vs scratch {len(scratch)} rows"),
            ("quality_floor", min(self.precision, self.recall) >= QUALITY_FLOOR,
             f"precision {self.precision:.4f} recall {self.recall:.4f}"),
        ]

    def refresh_rows(self, i: int) -> tuple[int, int]:
        """Rows carried over and replaced by cycle i (from the files)."""
        from dbpedia_spotlight_db_spark.plans.materialize import PRED_MENTIONS

        prev = self.snapshot0 if i == 0 else self.outputs[i - 1]
        cdir = os.path.join(self.inputs["deltas"], f"cycle_{i + 1}")
        drop = set(pq.read_table(os.path.join(cdir, "pages"), columns=["url"])
                   .column("url").to_pylist())
        drop |= set(pq.read_table(os.path.join(cdir, "gone")).column("url").to_pylist())
        t = pq.read_table(os.path.join(prev, "triples"), columns=["subj", "pred"]).to_pandas()
        m = t[t["pred"] == PRED_MENTIONS]
        replaced = int(m["subj"].isin(drop).sum())
        return len(m) - replaced, replaced

    def trace_extra(self, tracer: Tracer) -> list[tuple[str, bool, str]]:
        return []

    def replay_input(self):
        """One worker's share of the base pages, then the pages after it."""
        base = pq.read_table(os.path.join(self.inputs["base"], "base"),
                             columns=["url", "html"]).to_pandas()
        share = len(base) // self.cores
        return base["html"].iloc[:share], base.iloc[share:], self.model


WORKLOADS = {w.name: w for w in (Annotate, Refresh)}
