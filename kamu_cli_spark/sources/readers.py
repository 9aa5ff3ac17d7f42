"""File-format readers — the ingest `read` stage.

Mirrors the reference's reader surface (SURVEY.md §2.2;
src/infra/ingest-datafusion/src/readers/{csv,json,ndjson,geojson,
ndgeojson,shapefile,parquet}.rs) with Spark-native implementations:
CSV/NDJSON/Parquet map straight onto `spark.read`; document-style JSON
and geo formats transcode to NDJSON first (same strategy as the
reference), keeping geometry as a GeoJSON string column.

All readers return a DataFrame and accept an optional explicit schema
(DDL string or StructType); inference otherwise.
"""

from __future__ import annotations

import gzip
import json
import os
import tempfile
import zipfile
from typing import Any

from pyspark.sql import DataFrame, SparkSession


class ReaderError(Exception):
    pass


def read_csv(
    spark: SparkSession,
    path: str,
    schema: Any | None = None,
    separator: str = ",",
    quote: str = '"',
    escape: str = '"',
    header: bool = True,
    infer_schema: bool = True,
    null_value: str = "",
    date_format: str | None = None,
    timestamp_format: str | None = None,
    encoding: str = "utf-8",
) -> DataFrame:
    """ODF ReadStepCsv (dtos_generated.rs:3031-3148)."""
    reader = (
        spark.read.option("sep", separator)
        .option("quote", quote)
        .option("escape", escape)
        .option("header", header)
        .option("nullValue", null_value)
        .option("encoding", encoding)
    )
    if date_format:
        reader = reader.option("dateFormat", date_format)
    if timestamp_format:
        reader = reader.option("timestampFormat", timestamp_format)
    if schema is not None:
        reader = reader.schema(schema)
    elif infer_schema:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_ndjson(
    spark: SparkSession,
    path: str,
    schema: Any | None = None,
    timestamp_format: str | None = None,
) -> DataFrame:
    """ODF ReadStepNdJson (line-delimited JSON)."""
    reader = spark.read
    if timestamp_format:
        reader = reader.option("timestampFormat", timestamp_format)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def _resolve_sub_path(doc: Any, sub_path: str | None) -> list[dict]:
    node = doc
    if sub_path:
        for part in sub_path.split("."):
            if not isinstance(node, dict) or part not in node:
                raise ReaderError(f"sub_path {sub_path!r}: {part!r} not found")
            node = node[part]
    if not isinstance(node, list):
        raise ReaderError(
            f"JSON document at sub_path {sub_path!r} is not an array of records"
        )
    return node


def read_json(
    spark: SparkSession,
    path: str,
    sub_path: str | None = None,
    schema: Any | None = None,
) -> DataFrame:
    """ODF ReadStepJson: one JSON document with the record array at
    `sub_path` (dotted pointer). Transcodes to NDJSON then delegates —
    same two-phase approach as the reference (readers/json.rs:55-129).
    """
    with open(path, encoding="utf-8") as f:
        doc = json.load(f)
    records = _resolve_sub_path(doc, sub_path)
    tmp = tempfile.NamedTemporaryFile(
        "w", suffix=".ndjson", delete=False, encoding="utf-8"
    )
    with tmp as f:
        for rec in records:
            f.write(json.dumps(rec) + "\n")
    return read_ndjson(spark, tmp.name, schema)


def _feature_to_record(feature: dict) -> dict:
    rec = dict(feature.get("properties") or {})
    geom = feature.get("geometry")
    rec["geometry"] = json.dumps(geom, separators=(",", ":")) if geom else None
    return rec


def read_geojson(
    spark: SparkSession, path: str, schema: Any | None = None
) -> DataFrame:
    """ODF ReadStepGeoJson: FeatureCollection → one record per Feature,
    geometry kept as a GeoJSON string column (readers/geojson.rs:40-126).
    """
    with open(path, encoding="utf-8") as f:
        doc = json.load(f)
    if doc.get("type") != "FeatureCollection":
        raise ReaderError("GeoJSON root must be a FeatureCollection")
    tmp = tempfile.NamedTemporaryFile(
        "w", suffix=".ndjson", delete=False, encoding="utf-8"
    )
    with tmp as f:
        for feature in doc.get("features", []):
            f.write(json.dumps(_feature_to_record(feature)) + "\n")
    return read_ndjson(spark, tmp.name, schema)


def read_ndgeojson(
    spark: SparkSession, path: str, schema: Any | None = None
) -> DataFrame:
    """ODF ReadStepNdGeoJson: one Feature per line."""
    tmp = tempfile.NamedTemporaryFile(
        "w", suffix=".ndjson", delete=False, encoding="utf-8"
    )
    with open(path, encoding="utf-8") as src, tmp as f:
        for line in src:
            line = line.strip()
            if line:
                f.write(json.dumps(_feature_to_record(json.loads(line))) + "\n")
    return read_ndjson(spark, tmp.name, schema)


def read_shapefile(
    spark: SparkSession,
    path: str,
    sub_path: str | None = None,
    schema: Any | None = None,
) -> DataFrame:
    """ODF ReadStepEsriShapefile (readers/shapefile.rs:58-230): unzip if
    archived, locate the .shp (optionally narrowed by `sub_path`), parse
    geometry + .dbf attributes with the built-in spec parser
    (sources/shapefile.py — no external geo deps), and transcode to the
    same (attributes..., geometry GeoJSON-string) rows as read_geojson.
    """
    from kamu_cli_spark.sources.shapefile import read_features

    if path.endswith(".shp"):
        shp = path
    else:
        workdir = path
        if path.endswith(".zip"):
            workdir = tempfile.mkdtemp()
            with zipfile.ZipFile(path) as z:
                z.extractall(workdir)
        shp = None
        for root, _, files in os.walk(workdir):
            for fn in files:
                if fn.endswith(".shp") and (not sub_path or sub_path in fn):
                    shp = os.path.join(root, fn)
        if shp is None:
            raise ReaderError(f"no .shp found under {workdir}")
    tmp = tempfile.NamedTemporaryFile(
        "w", suffix=".ndjson", delete=False, encoding="utf-8"
    )
    with tmp as f:
        for feature in read_features(shp):
            f.write(json.dumps(_feature_to_record(feature)) + "\n")
    return read_ndjson(spark, tmp.name, schema)


def read_parquet(
    spark: SparkSession, path: str, schema: Any | None = None
) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


FORMAT_READERS = {
    "csv": read_csv,
    "json": read_json,
    "ndjson": read_ndjson,
    "geojson": read_geojson,
    "ndgeojson": read_ndgeojson,
    "esrishapefile": read_shapefile,
    "shapefile": read_shapefile,
    "parquet": read_parquet,
}

MEDIA_TYPES = {
    "text/csv": "csv",
    "application/json": "json",
    "application/x-ndjson": "ndjson",
    "application/geo+json": "geojson",
    "application/parquet": "parquet",
    "application/vnd.apache.parquet": "parquet",
}


def read_format(
    spark: SparkSession, fmt: str, path: str, **options
) -> DataFrame:
    """Format registry dispatch (reference:
    data_format_registry_impl.rs:29-60)."""
    fmt = MEDIA_TYPES.get(fmt, fmt).lower()
    if fmt not in FORMAT_READERS:
        raise ReaderError(f"unsupported format: {fmt}")
    return FORMAT_READERS[fmt](spark, path, **options)


# -- prep steps (reference: prep_service.rs:43-60) ----------------------


def prep_decompress(path: str, sub_path: str | None = None) -> str:
    """PrepStepDecompress: gzip/zip → staging file; returns new path."""
    if path.endswith(".gz"):
        out = path[:-3]
        out = out if not os.path.exists(out) else out + ".decompressed"
        with gzip.open(path, "rb") as src, open(out, "wb") as dst:
            dst.write(src.read())
        return out
    if path.endswith(".zip"):
        workdir = tempfile.mkdtemp()
        with zipfile.ZipFile(path) as z:
            names = [n for n in z.namelist() if not n.endswith("/")]
            if sub_path:
                import fnmatch

                names = [n for n in names if fnmatch.fnmatch(n, sub_path)]
            if not names:
                raise ReaderError(f"nothing to extract from {path} ({sub_path=})")
            z.extract(names[0], workdir)
            return os.path.join(workdir, names[0])
    raise ReaderError(f"unsupported archive: {path}")


def apply_preprocess(spark, df, preprocess):
    """SetPollingSource's PREPROCESS stage (fetch → prep → read →
    **preprocess(SQL)** → merge; reference:
    polling_ingest_service_impl.rs:141-290, and the covid examples'
    ``FROM input`` convention): run SQL over the freshly-read batch,
    registered as the temp view ``input``.

    Accepts a plain SQL string, the ODF ``{kind: Sql, query}`` DTO, or
    a multi-step list (``[{alias, query}, ...]``, last unaliased step =
    output — same shape as transforms). Spark analyzes eagerly, so the
    views can be dropped as soon as the output plan is built.
    """
    if preprocess is None:
        return df
    if isinstance(preprocess, str):
        steps = [{"query": preprocess}]
    elif isinstance(preprocess, dict):
        steps = preprocess.get("queries") or [{"query": preprocess["query"]}]
    else:
        steps = preprocess
    df.createOrReplaceTempView("input")
    created = ["input"]
    try:
        out = df
        for step in steps:
            out = spark.sql(step["query"])
            alias = step.get("alias")
            if alias:
                out.createOrReplaceTempView(alias)
                created.append(alias)
        return out
    finally:
        for v in created:
            spark.catalog.dropTempView(v)
