"""S3/S5 source-sink coverage: NT triple ingestion and the catalog
seam (partitioned-Parquet fallback with manifest sidecar)."""

from __future__ import annotations

import json
import os
import uuid

import pytest
from pyspark.sql import types as T

from dbpedia_spotlight_db_spark.sources import catalog


def test_read_nt_triples(spark, tmp_path):
    nt = tmp_path / "redirects.nt"
    nt.write_text(
        "<http://dbpedia.org/resource/A> "
        "<http://dbpedia.org/ontology/wikiPageRedirects> "
        "<http://dbpedia.org/resource/B> .\n"
        "<http://dbpedia.org/resource/C> "
        "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type> "
        "<http://dbpedia.org/ontology/Person> .\n"
        "# a comment line that must be dropped\n"
        "malformed line without angle brackets\n"
    )
    df = catalog.read_nt_triples(spark, str(nt))
    rows = {(r.subj, r.pred, r.obj) for r in df.collect()}
    assert rows == {
        (
            "http://dbpedia.org/resource/A",
            "http://dbpedia.org/ontology/wikiPageRedirects",
            "http://dbpedia.org/resource/B",
        ),
        (
            "http://dbpedia.org/resource/C",
            "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
            "http://dbpedia.org/ontology/Person",
        ),
    }


def test_catalog_roundtrip_with_manifest(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "en"), (2, "fr"), (3, "en")], ["id", "lang"]
    )
    root = str(tmp_path)
    catalog.save(df, "t1", root, partition_by=["lang"])
    back = catalog.load(spark, "t1", root)
    assert back.count() == 3
    assert {r.lang for r in back.select("lang").distinct().collect()} == {"en", "fr"}
    manifest = json.load(open(os.path.join(root, "t1.manifest.json")))
    assert manifest["rows"] == 3 and manifest["partition_by"] == ["lang"]
    # idempotent overwrite (lineage requirement: never append)
    catalog.save(df, "t1", root, partition_by=["lang"])
    assert catalog.load(spark, "t1", root).count() == 3


def _table(spark, n):
    """``n`` rows with non-nullable and nested fields, so the manifest
    schema has to record what a file source reads back, not df.schema."""
    schema = T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("lang", T.StringType(), False),
        T.StructField("tags", T.ArrayType(T.StringType(), False), False),
        T.StructField("pos", T.StructType([
            T.StructField("start", T.IntegerType(), False),
            T.StructField("end", T.IntegerType(), True),
        ]), True),
    ])
    rows = [(i, ("en", "fr")[i % 2], [f"t{i}"], (i, i + 1)) for i in range(n)]
    return spark.createDataFrame(rows, schema)


@pytest.mark.parametrize("partition_by", [["lang"], None])
def test_catalog_load_reads_manifest_schema(spark, jobs_during, tmp_path, partition_by):
    """A saved table loads with the manifest's schema — the schema a
    plain Parquet read infers, partition columns last — and opening it
    submits no Spark job."""
    root = str(tmp_path)
    df = _table(spark, 6)
    catalog.save(df, "t", root, partition_by=partition_by)
    back, jobs = jobs_during(lambda: catalog.load(spark, "t", root))
    assert jobs == []
    inferred = spark.read.parquet(os.path.join(root, "t"))
    assert back.schema == inferred.schema
    assert sorted(back.collect()) == sorted(inferred.collect())
    assert sorted(back.select(*df.columns).collect()) == sorted(df.collect())


def test_catalog_save_bucketed_manifest_schema(spark, jobs_during, tmp_path):
    root = str(tmp_path)
    name = f"bk_{uuid.uuid4().hex[:8]}"
    catalog.save_bucketed(_table(spark, 6), name, root, "id", n_buckets=2)
    assert catalog.manifest(root, name)["rows"] == 6
    back, jobs = jobs_during(lambda: catalog.load(spark, name, root))
    assert jobs == []
    assert back.schema == spark.read.parquet(os.path.join(root, name)).schema
    spark.sql(f"DROP TABLE IF EXISTS {name}")


@pytest.mark.parametrize("partition_by", [["lang"], None])
def test_catalog_manifest_rows_after_overwrite(spark, tmp_path, partition_by):
    """The row count is observed inside the write job: after an
    overwrite it is the new table's count, not the old one's."""
    root = str(tmp_path)
    catalog.save(_table(spark, 7), "t", root, partition_by=partition_by)
    assert catalog.manifest(root, "t")["rows"] == 7
    catalog.save(_table(spark, 4), "t", root, partition_by=partition_by)
    assert catalog.manifest(root, "t")["rows"] == 4
    assert catalog.load(spark, "t", root).count() == 4
    catalog.save(_table(spark, 0), "t", root, partition_by=partition_by)
    assert catalog.manifest(root, "t")["rows"] == 0
    assert catalog.load(spark, "t", root).count() == 0


@pytest.mark.parametrize("partition_by", [["lang"], None])
def test_catalog_loads_manifest_without_schema(spark, tmp_path, partition_by):
    """Tables whose manifest predates the schema field are inferred."""
    root = str(tmp_path)
    catalog.save(_table(spark, 5), "t", root, partition_by=partition_by)
    m = catalog.manifest(root, "t")
    want = T.StructType.fromJson(m.pop("schema"))
    with open(os.path.join(root, "t.manifest.json"), "w") as f:
        json.dump(m, f)
    back = catalog.load(spark, "t", root)
    assert back.schema == want
    assert back.count() == 5


def test_catalog_failed_save_leaves_no_manifest(spark, tmp_path):
    root = str(tmp_path)
    df = _table(spark, 3)
    catalog.save(df, "t", root)
    with pytest.raises(Exception):
        catalog.save(df, "t", root, partition_by=["no_such_column"])
    assert not os.path.exists(os.path.join(root, "t.manifest.json"))


def test_iceberg_ddl_shape():
    """The catalog seam's production DDL: identity + bucket
    partitioning over the declared schema (no Iceberg jars locally —
    SURVEY.md §0 — so the statement itself is the contract)."""
    from dbpedia_spotlight_db_spark import schemas
    from dbpedia_spotlight_db_spark.sources.catalog import iceberg_ddl

    ddl = iceberg_ddl(
        "pages", schemas.PAGES, partition_by=["lang"],
        bucket_key="url", n_buckets=32,
    )
    assert ddl.startswith("CREATE TABLE IF NOT EXISTS spark_catalog.`pages` (")
    assert "`url` string" in ddl and "`html` binary" in ddl
    assert "USING iceberg" in ddl
    assert "PARTITIONED BY (`lang`, bucket(32, `url`))" in ddl
    assert "'format-version' = '2'" in ddl

    plain = iceberg_ddl("triples", schemas.TRIPLES)
    assert "PARTITIONED BY" not in plain
