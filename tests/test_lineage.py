"""Checkpoint/resume invariants (north_rule): kill-and-resume produces
identical output to a single run; completed phases/units are skipped;
lineage + metrics tables are written."""

from __future__ import annotations

import json
import os
import shutil

import pytest

from dbpedia_spotlight_db_spark.plans.lineage import run_flagship_resumable

SF_DIR = "/root/testdata/sf0.001"


def _triples_set(df):
    return {(r.subj, r.pred, r.obj) for r in df.collect()}


@pytest.fixture(scope="module")
def run_root(tmp_path_factory):
    return str(tmp_path_factory.mktemp("runs"))


def test_resume_identical_output(spark, run_root):
    full = _triples_set(
        run_flagship_resumable(spark, SF_DIR, run_root, "run_a")
    )
    assert full

    # simulate a kill after the annotation phase partially completed:
    # copy run_a, drop the triples checkpoint AND one annotation unit
    src, dst = os.path.join(run_root, "run_a"), os.path.join(run_root, "run_b")
    shutil.copytree(src, dst)
    shutil.rmtree(os.path.join(dst, "triples"))
    units = [
        d
        for d in os.listdir(os.path.join(dst, "annotations"))
        if d.startswith("unit=")
    ]
    assert len(units) >= 2
    shutil.rmtree(os.path.join(dst, "annotations", units[0]))

    resumed = _triples_set(
        run_flagship_resumable(spark, SF_DIR, run_root, "run_b")
    )
    assert resumed == full


def test_resumable_equals_direct_triples(spark, run_root):
    """The checkpointed lineage run (fused annotations per lang unit,
    then materialize_triples) yields the same triples as the direct
    annotate_to_triples path over the same pages and world stores."""
    from dbpedia_spotlight_db_spark.entrypoint import (
        annotate_to_triples,
        documents_as_pages,
        world_model_bc,
        world_stores,
    )

    lineage = _triples_set(
        run_flagship_resumable(spark, SF_DIR, run_root, "run_a")
    )
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    stores = world_stores(spark, docs)
    direct = _triples_set(
        annotate_to_triples(
            spark, documents_as_pages(docs), stores,
            world_model_bc(spark, stores),
        )
    )
    assert lineage == direct and lineage


def test_completed_units_skipped(spark, run_root):
    # run_b's lineage must show skipped entries for the units that
    # survived the simulated kill and a recompute for the deleted one
    path = os.path.join(run_root, "run_b", "_lineage.jsonl")
    recs = [json.loads(l) for l in open(path)]
    unit_recs = [r for r in recs if r.get("kind") == "unit"]
    statuses = {}
    for r in unit_recs:
        statuses.setdefault(r["unit"], []).append(r["status"])
    # at least one unit skipped, the deleted one recomputed
    flat = [s for v in statuses.values() for s in v]
    assert "skipped" in flat and "complete" in flat


def test_metrics_rollup(spark, run_root):
    from dbpedia_spotlight_db_spark.plans.lineage import CheckpointedRun

    run = CheckpointedRun(spark, run_root, "run_a")
    m = {r.phase: r for r in run.metrics().collect()}
    assert "triples" in m and m["triples"].rows_out > 0
    assert m["triples"].status in ("complete", "skipped")
    lin = run.lineage()
    assert lin.filter("kind = 'file'").count() > 0


def test_mention_pair_checkpoint_resume_skips_rewrite(spark, tmp_path):
    """materialize_triples_from_mention_pairs treats a completed
    checkpoint (_SUCCESS present) as the resume point: the second call
    must re-read it, not re-run the annotate pass (jobs/annotate.py's
    --checkpoint-root semantics)."""
    from dbpedia_spotlight_db_spark.plans.materialize import (
        materialize_triples_from_mention_pairs,
    )

    pairs = spark.createDataFrame(
        [("u1", "dbr:A"), ("u2", "dbr:B")], ["url", "uri"]
    )
    entities = spark.createDataFrame(
        [("dbr:A", ["T1"])], ["uri", "types"]
    )
    ck = str(tmp_path / "mentions")
    t1 = materialize_triples_from_mention_pairs(pairs, entities, ck)
    got1 = {(r.subj, r.pred, r.obj) for r in t1.collect()}
    mtimes1 = {
        f: os.path.getmtime(os.path.join(ck, f)) for f in os.listdir(ck)
    }

    # second run with DIFFERENT upstream pairs: the completed
    # checkpoint wins (resume semantics — upstream is not re-run)
    other = spark.createDataFrame([("u9", "dbr:Z")], ["url", "uri"])
    t2 = materialize_triples_from_mention_pairs(other, entities, ck)
    got2 = {(r.subj, r.pred, r.obj) for r in t2.collect()}
    mtimes2 = {
        f: os.path.getmtime(os.path.join(ck, f)) for f in os.listdir(ck)
    }
    assert got1 == got2  # re-read, not re-written
    assert mtimes1 == mtimes2


def test_mention_pair_checkpoint_reread_submits_no_job(spark, jobs_during, tmp_path):
    """A completed checkpoint is re-read with the pairs' known schema:
    resuming submits no schema-inference job."""
    from dbpedia_spotlight_db_spark.plans.materialize import (
        materialize_triples_from_mention_pairs,
    )

    pairs = spark.createDataFrame([("u1", "dbr:A")], "url string, uri string")
    entities = spark.createDataFrame([("dbr:A", ["T1"])], ["uri", "types"])
    ck = str(tmp_path / "mentions")
    materialize_triples_from_mention_pairs(pairs, entities, ck)
    t, jobs = jobs_during(
        lambda: materialize_triples_from_mention_pairs(pairs, entities, ck)
    )
    assert jobs == []
    assert {tuple(r) for r in t.collect()} == {
        ("u1", "dbo:mentions", "dbr:A"), ("dbr:A", "rdf:type", "T1"),
    }
