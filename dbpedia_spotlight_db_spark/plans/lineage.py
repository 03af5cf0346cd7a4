"""Checkpoint/resume with per-partition lineage + metrics tables
(SURVEY.md §4.2.3; north_rule: "resumable from checkpoint with
per-partition lineage + metrics").

The reference is a request/response service with no batch lineage; at
10^12 documents a run MUST survive preemption. Design:

- A run is a directory ``{root}/{run_id}/`` of phase outputs, each a
  deterministic Parquet (Iceberg via sources/catalog.py in prod) path
  keyed by phase name. Writes are idempotent overwrites — never
  appends — so a re-run of a half-written phase is safe (Spark's job
  commit protocol makes the ``_SUCCESS`` marker atomic).
- ``_lineage`` table: one row per (phase, output file/partition) with
  row counts + bytes, plus a phase-level row carrying wall-clock and
  status (complete / resumed-skip). ``_metrics`` is the A8 rollup.
- Resume: a phase whose ``_SUCCESS`` exists and whose lineage status
  is complete is NOT recomputed — its output is re-read (lineage
  records a ``skipped`` row). For intra-phase granularity,
  ``unit_phase`` splits a phase into explicit work units (e.g. per
  lang, per bucket range); completed units are skipped individually —
  the anti-join-against-task-list pattern.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F


class CheckpointedRun:
    def __init__(self, spark: SparkSession, root: str, run_id: str | None = None):
        self.spark = spark
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self.dir = os.path.join(root, self.run_id)
        os.makedirs(self.dir, exist_ok=True)

    # -- lineage/metrics plumbing -------------------------------------
    def _lineage_path(self) -> str:
        return os.path.join(self.dir, "_lineage.jsonl")

    def _log(self, rec: dict) -> None:
        rec = {"run_id": self.run_id, "ts": time.time(), **rec}
        with open(self._lineage_path(), "a") as f:
            f.write(json.dumps(rec) + "\n")

    def lineage(self) -> DataFrame:
        """The lineage relation (one row per event; file-level rows
        carry rows/bytes per output partition file). The jsonl sidecar
        is underscore-prefixed (data-file scans ignore it), so it is
        loaded driver-side — it is metadata-sized by construction."""
        import pandas as pd

        pdf = pd.read_json(self._lineage_path(), lines=True)
        for c in ("rows", "bytes", "wall_ms"):
            if c in pdf.columns:
                pdf[c] = pdf[c].astype("float64")
        return self.spark.createDataFrame(pdf)

    def metrics(self) -> DataFrame:
        """A8 rollup: per-phase rows/bytes/files/wall."""
        lin = self.lineage()
        files = (
            lin.filter(F.col("kind") == "file")
            .groupBy("phase")
            .agg(
                F.count(F.lit(1)).alias("n_files"),
                F.sum("rows").alias("rows_out"),
                F.sum("bytes").alias("bytes_out"),
            )
        )
        phases = lin.filter(F.col("kind") == "phase").select(
            "phase", "status", "wall_ms"
        )
        return phases.join(files, "phase", "left")

    # -- phase execution ----------------------------------------------
    def _complete(self, path: str) -> bool:
        return os.path.exists(os.path.join(path, "_SUCCESS"))

    def _file_lineage(self, phase: str, path: str) -> None:
        out = self.spark.read.parquet(path)
        per_file = (
            out.groupBy(F.input_file_name().alias("file"))
            .count()
            .collect()
        )
        for r in per_file:
            fpath = r.file.replace("file://", "")
            try:
                nbytes = os.path.getsize(fpath)
            except OSError:
                nbytes = None
            self._log(
                {
                    "kind": "file",
                    "phase": phase,
                    "file": os.path.basename(fpath),
                    "rows": r["count"],
                    "bytes": nbytes,
                }
            )

    def phase(self, name: str, build_fn, partition_by: list[str] | None = None) -> DataFrame:
        """Run (or resume-skip) one phase. ``build_fn() -> DataFrame``
        is only invoked when the checkpoint is absent."""
        path = os.path.join(self.dir, name)
        if self._complete(path):
            self._log({"kind": "phase", "phase": name, "status": "skipped", "wall_ms": 0})
            return self.spark.read.parquet(path)
        t0 = time.perf_counter()
        df = build_fn()
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        wall = int((time.perf_counter() - t0) * 1000)
        self._file_lineage(name, path)
        self._log({"kind": "phase", "phase": name, "status": "complete", "wall_ms": wall})
        return self.spark.read.parquet(path)

    def unit_phase(self, name: str, units: list[str], build_unit_fn) -> DataFrame:
        """Phase split into explicit work units; each unit checkpoints
        independently (``{phase}/unit={u}``), so a killed run resumes
        at unit granularity — completed units are anti-joined away.
        ``build_unit_fn(unit) -> DataFrame``."""
        if not units:
            raise ValueError(
                f"unit_phase({name!r}): empty unit list — the caller must "
                "supply at least one work unit (or skip the phase)"
            )
        base = os.path.join(self.dir, name)
        done = set()
        if os.path.exists(self._lineage_path()):
            with open(self._lineage_path()) as f:
                for line in f:
                    rec = json.loads(line)
                    if (
                        rec.get("kind") == "unit"
                        and rec.get("phase") == name
                        and rec.get("status") == "complete"
                    ):
                        done.add(rec["unit"])
        for u in units:
            upath = os.path.join(base, f"unit={u}")
            if u in done and self._complete(upath):
                self._log({"kind": "unit", "phase": name, "unit": u, "status": "skipped"})
                continue
            t0 = time.perf_counter()
            build_unit_fn(u).write.mode("overwrite").parquet(upath)
            self._log(
                {
                    "kind": "unit",
                    "phase": name,
                    "unit": u,
                    "status": "complete",
                    "wall_ms": int((time.perf_counter() - t0) * 1000),
                }
            )
        self._log({"kind": "phase", "phase": name, "status": "complete", "wall_ms": 0})
        return self.spark.read.option("basePath", base).parquet(
            *[os.path.join(base, f"unit={u}") for u in units]
        )


def run_flagship_resumable(
    spark: SparkSession, sf_dir: str, root: str, run_id: str
) -> DataFrame:
    """The flagship pipeline driven through checkpointed phases:
    stores -> annotations (per-lang units) -> triples. Killing the
    process between phases and re-running with the same run_id skips
    completed work and yields the identical triples relation."""
    from ..entrypoint import documents_as_pages, world_model_bc, world_stores
    from .annotate_fused import annotate_fused
    from .build_stores import STORE_BUCKET_KEYS
    from .materialize import materialize_triples
    from ..plans.annotate import AnnotateConfig

    run = CheckpointedRun(spark, root, run_id)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # P0: every store table is a checkpointed phase — a resume of a
    # fully-annotated run re-reads parquet instead of re-running the
    # store aggregations, and the broadcast model is rebuilt from the
    # checkpointed tables (cheap collects over columnar files)
    stores = world_stores(spark, docs)
    ck_stores: dict = dict(stores)
    for tbl in STORE_BUCKET_KEYS:
        ck_stores[tbl] = run.phase(f"store_{tbl}", lambda t=tbl: stores[t])
    entities_ck = ck_stores["entities"]
    model_bc = world_model_bc(spark, ck_stores)
    pages = documents_as_pages(docs).repartition(
        spark.sparkContext.defaultParallelism * 4
    )

    langs = sorted(
        {r.lang for r in pages.select("lang").distinct().collect()}
        & set(AnnotateConfig().langs)
    )
    if not langs:
        # no routable languages: the annotation set is empty by
        # definition — produce an empty triples relation
        return spark.createDataFrame(
            [], "subj string, pred string, obj string"
        )

    def ann_unit(lang: str) -> DataFrame:
        cfg = AnnotateConfig(langs=(lang,))
        return annotate_fused(
            spark, pages.filter(F.col("lang") == lang), ck_stores, cfg, model_bc
        )

    ann = run.unit_phase("annotations", langs, ann_unit)
    triples = run.phase(
        "triples",
        # ann is already parquet-backed (the annotations checkpoint),
        # so both triple branches re-read storage — no extra checkpoint
        lambda: materialize_triples(ann, entities_ck),
    )
    return triples
