"""Catalog seam (SURVEY.md §7.1).

Production target is Iceberg (north_rule: "Iceberg tables of
Common-Crawl-style web pages"); the sandbox has no Iceberg jars and no
network, so the seam writes partitioned Parquet plus a JSON manifest
sidecar carrying the metadata Iceberg snapshots would carry: the row
count (observed during the write, never re-counted), the schema as
Spark reads the files back (every field nullable, partition columns
last) and the layout (partition columns, or bucket key and count).
``load`` reads with the manifest's schema, so opening a table submits
no Spark job; a table whose manifest has no schema is inferred from
its files. Nothing outside this module may hard-code a format.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F, types as T


def _iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.org.apache.iceberg.Table  # noqa: SLF001
        return True
    except Exception:
        return False


def _manifest_path(root: str, name: str) -> str:
    return os.path.join(root, f"{name}.manifest.json")


def exists(root: str, name: str) -> bool:
    """True when ``root`` holds a table ``name`` that ``load`` can read."""
    return any(
        os.path.exists(os.path.join(root, n)) for n in (f"{name}.parquet", name)
    )


def load(spark: SparkSession, name: str, root: str) -> DataFrame:
    """Read table ``name`` from ``root`` (Iceberg identifier if a
    catalog is configured, else ``{root}/{name}.parquet`` or directory).
    A directory ``save`` wrote is read with its manifest's schema, so
    no schema-inference job runs."""
    p = os.path.join(root, f"{name}.parquet")
    if os.path.exists(p):
        return spark.read.parquet(p)
    try:
        schema = manifest(root, name).get("schema")
    except FileNotFoundError:
        schema = None
    reader = spark.read
    if schema is not None:
        reader = reader.schema(T.StructType.fromJson(schema))
    return reader.parquet(os.path.join(root, name))


def _nullable(dt: T.DataType) -> T.DataType:
    """``dt`` with every nested field, element and value nullable —
    what a file source reports for the data it wrote."""
    if isinstance(dt, T.StructType):
        return T.StructType([
            T.StructField(f.name, _nullable(f.dataType), True, f.metadata)
            for f in dt.fields
        ])
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def _read_schema(schema: T.StructType, partition_by: list[str]) -> dict:
    """The schema Spark reads back from a Parquet directory written
    from ``schema``: all fields nullable, partition columns last."""
    read = _nullable(schema)
    data = [f for f in read.fields if f.name not in partition_by]
    parts = [read[p] for p in partition_by]
    return T.StructType(data + parts).jsonValue()


def _counted(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` plus an observation that holds its row count once a job
    (the write) has consumed it: the count costs no job of its own."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs


def save(
    df: DataFrame,
    name: str,
    root: str,
    partition_by: list[str] | None = None,
) -> str:
    """Overwrite a table through the seam. The Parquet fallback writes
    a JSON manifest with the row count, the read-back schema and the
    partition layout (the lineage/metrics tables in plans/lineage.py
    reference it). The old manifest is deleted first, so a failed save
    never leaves one that describes other files."""
    path = os.path.join(root, name)
    partition_by = partition_by or []
    _drop_manifest(root, name)
    counted, obs = _counted(df)
    writer = counted.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    _write_manifest(
        root,
        name,
        rows=obs.get["rows"],
        schema=_read_schema(df.schema, partition_by),
        partition_by=partition_by,
    )
    return path


def _drop_manifest(root: str, name: str) -> None:
    try:
        os.remove(_manifest_path(root, name))
    except FileNotFoundError:
        pass


def _write_manifest(root: str, name: str, **fields) -> None:
    manifest = {
        "table": name,
        "written_at": time.time(),
        "format": "parquet-fallback(iceberg-seam)",
        **fields,
    }
    with open(_manifest_path(root, name), "w") as f:
        json.dump(manifest, f)


def manifest(root: str, name: str) -> dict:
    """Read back the manifest sidecar ``save`` wrote for ``name`` —
    the local stand-in for an Iceberg snapshot summary. Jobs read row
    counts from here instead of re-counting tables they just wrote."""
    with open(_manifest_path(root, name)) as f:
        return json.load(f)


def iceberg_ddl(
    name: str,
    schema,
    partition_by: list[str] | None = None,
    bucket_key: str | None = None,
    n_buckets: int = 16,
    catalog: str = "spark_catalog",
) -> str:
    """The production DDL this seam targets (SURVEY.md §4.3): an
    Iceberg table with identity partitioning on e.g. ``lang`` and
    hash-bucket partitioning on the join key, so J1/J3 bucket joins
    and partition pruning work without extra shuffles. The sandbox has
    no Iceberg jars (SURVEY.md §0), so this returns the statement for
    the deployment to execute; the parquet fallback in ``save`` /
    ``save_bucketed`` mirrors the same layout locally."""
    # backtick-quote identifiers: reserved words (`order`, `group`) or
    # odd characters in field names must still yield executable DDL
    cols = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
    )
    parts = [f"`{p}`" for p in (partition_by or [])]
    if bucket_key:
        parts.append(f"bucket({n_buckets}, `{bucket_key}`)")
    part_clause = f" PARTITIONED BY ({', '.join(parts)})" if parts else ""
    return (
        f"CREATE TABLE IF NOT EXISTS {catalog}.`{name}` ({cols}) "
        f"USING iceberg{part_clause} "
        "TBLPROPERTIES ('format-version' = '2', "
        "'write.distribution-mode' = 'hash')"
    )


def save_bucketed(
    df: DataFrame,
    name: str,
    root: str,
    bucket_key: str,
    n_buckets: int = 8,
    sort: bool = True,
) -> str:
    """SURVEY.md §4.3 physical layout: store tables bucketed (and
    sorted) on their join key, so a join against them shuffles ONLY
    the probe side — the store side gets neither Exchange nor Sort.
    This is the sort-merge-bucket fallback for J1/J3 when a store
    exceeds the broadcast budget at web scale.

    Bucket metadata lives in the session catalog (saveAsTable); the
    sandbox has no Hive metastore or Iceberg jars, so the table
    registration is per-session (in-memory catalog) while the files
    persist under ``{root}/{name}`` — production swaps this for
    Iceberg bucket-partitioning through the same seam. Table name =
    ``name`` (re-registered idempotently)."""
    spark = df.sparkSession
    path = os.path.join(root, name)
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    _drop_manifest(root, name)
    counted, obs = _counted(df)
    writer = (
        counted.write.mode("overwrite")
        .format("parquet")
        .option("path", path)
        .bucketBy(n_buckets, bucket_key)
    )
    if sort:
        writer = writer.sortBy(bucket_key)
    writer.saveAsTable(name)
    _write_manifest(
        root,
        name,
        rows=obs.get["rows"],
        schema=_read_schema(df.schema, []),
        bucket_key=bucket_key,
        n_buckets=n_buckets,
        sorted=sort,
    )
    return path


def read_nt_triples(spark: SparkSession, path: str) -> DataFrame:
    """S3: NT/NQ triple ingestion (redirects / disambiguations /
    instance-types files). Line-oriented `<s> <p> <o> .` parsed with
    JVM-side regex — no Python."""
    lines = spark.read.text(path)
    pat = r"^<([^>]+)>\s+<([^>]+)>\s+<?([^>\s]+)>?\s*\.?\s*$"
    return lines.select(
        F.regexp_extract("value", pat, 1).alias("subj"),
        F.regexp_extract("value", pat, 2).alias("pred"),
        F.regexp_extract("value", pat, 3).alias("obj"),
    ).filter(F.col("subj") != "")
